"""PageRank (``operators.graph.pagerank``): pinned against a pure-numpy
power iteration with identical damping and dangling-mass handling, on
directed graphs with dangling nodes and on the undirected near-dup pair
graph; ranks sum to 1; the stats hook reports convergence."""

from __future__ import annotations

import numpy as np
import pytest

from big_data_hadoop_spark.operators.graph import (
    bfs_distances,
    k_core,
    label_propagation,
    pagerank,
    triangle_count,
)


def _np_pagerank(edges, n_ids, damping=0.85, tol=1e-6, max_iter=40,
                 directed=True):
    """Reference power iteration over a dense matrix (test-sized)."""
    ids = sorted(n_ids)
    idx = {v: i for i, v in enumerate(ids)}
    n = len(ids)
    out = np.zeros(n)
    adj = np.zeros((n, n))
    es = set()
    for a, b in edges:
        es.add((a, b))
        if not directed:
            es.add((b, a))
    for a, b in es:
        adj[idx[a]][idx[b]] = 1.0
        out[idx[a]] += 1.0
    r = np.full(n, 1.0 / n)
    for _ in range(max_iter):
        dangling = r[out == 0].sum()
        inflow = np.zeros(n)
        for (a, b) in es:
            inflow[idx[b]] += r[idx[a]] / out[idx[a]]
        nr = (1 - damping) / n + damping * (inflow + dangling / n)
        if np.abs(nr - r).sum() < tol:
            r = nr
            break
        r = nr
    return {v: r[idx[v]] for v in ids}


DIRECTED_EDGES = [
    (1, 2), (1, 3), (2, 3), (3, 1), (4, 3), (5, 4), (6, 4), (4, 6),
    (7, 1),  # 7 has out-edges but no in-edges
    (3, 8),  # 8 is dangling (no out-edges)
]


def test_directed_matches_numpy_with_dangling(spark):
    df = spark.createDataFrame(DIRECTED_EDGES, "id_a long, id_b long")
    got = {
        r.id: r.rank for r in pagerank(df, directed=True).collect()
    }
    want = _np_pagerank(
        DIRECTED_EDGES, set(got), directed=True
    )
    assert got.keys() == want.keys()
    for k in got:
        assert got[k] == pytest.approx(want[k], abs=1e-6), k
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_undirected_matches_numpy(spark):
    edges = [(1, 2), (2, 3), (3, 4), (10, 11)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.id: r.rank for r in pagerank(df).collect()}
    want = _np_pagerank(edges, set(got), directed=False)
    for k in got:
        assert got[k] == pytest.approx(want[k], abs=1e-6), k
    # chain interior nodes outrank endpoints; the 2-clique splits evenly
    assert got[2] > got[1] and got[3] > got[4]
    assert got[10] == pytest.approx(got[11], abs=1e-9)


def test_stats_and_convergence(spark):
    edges = [(1, 2), (2, 3), (3, 1)]  # 3-cycle: uniform fixpoint
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    stats: dict = {}
    got = {
        r.id: r.rank
        for r in pagerank(df, directed=True, stats=stats).collect()
    }
    for v in got.values():
        assert v == pytest.approx(1 / 3, abs=1e-9)
    assert stats["rounds"] <= 3 and stats["delta"] < 1e-6


def test_ranks_near_dup_graph_and_rejects_bad_params(spark):
    from big_data_hadoop_spark.operators.dedup import minhash_lsh_pairs
    from big_data_hadoop_spark.sources.io import load_table
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "text"
    )
    pairs = minhash_lsh_pairs(docs, threshold=0.7)
    ranks = pagerank(pairs, tol=1e-4, max_iter=15)
    total = ranks.groupBy().sum("rank").first()[0]
    assert total == pytest.approx(1.0, abs=1e-6)
    assert ranks.count() > 0
    with pytest.raises(ValueError, match="damping"):
        pagerank(pairs, damping=1.5)
    with pytest.raises(ValueError, match="max_iter"):
        pagerank(pairs, max_iter=0)


def test_pagerank_empty_graph_populates_stats(spark):
    """The documented stats contract {'rounds','delta'} holds on an
    empty pair frame (review finding: the early return skipped it)."""
    from big_data_hadoop_spark.operators.graph import pagerank

    empty = spark.createDataFrame([], "id_a long, id_b long")
    stats = {}
    out = pagerank(empty, stats=stats)
    assert out.count() == 0
    assert stats == {"rounds": 0, "delta": 0.0}


def _np_personalized(edges, n_ids, seeds, damping=0.85, tol=1e-6,
                     max_iter=40, directed=True):
    ids = sorted(n_ids)
    idx = {v: i for i, v in enumerate(ids)}
    n = len(ids)
    out = np.zeros(n)
    es = set()
    for a, b in edges:
        es.add((a, b))
        if not directed:
            es.add((b, a))
    for a, b in es:
        out[idx[a]] += 1.0
    rv = np.zeros(n)
    for s in seeds:
        rv[idx[s]] = 1.0 / len(seeds)
    r = rv.copy()  # init at the reset vector, matching the operator
    for _ in range(max_iter):
        dangling = r[out == 0].sum()
        inflow = np.zeros(n)
        for (a, b) in es:
            inflow[idx[b]] += r[idx[a]] / out[idx[a]]
        nr = (1 - damping) * rv + damping * (inflow + dangling * rv)
        if np.abs(nr - r).sum() < tol:
            r = nr
            break
        r = nr
    return {v: r[idx[v]] for v in ids}


def test_personalized_matches_numpy(spark):
    df = spark.createDataFrame(DIRECTED_EDGES, "id_a long, id_b long")
    got = {
        r.id: r.rank
        for r in pagerank(df, directed=True, personalize=[1, 4]).collect()
    }
    want = _np_personalized(DIRECTED_EDGES, set(got), [1, 4], directed=True)
    for k in got:
        assert got[k] == pytest.approx(want[k], abs=1e-6), k
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
    # proximity: a seed's direct successor outranks a node the seeds
    # cannot reach (7 has no in-edges at all)
    assert got[2] > got[7] and got[7] == pytest.approx(0.0, abs=1e-9)


def test_personalized_validation(spark):
    df = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    with pytest.raises(ValueError, match="non-empty"):
        pagerank(df, personalize=[])
    with pytest.raises(ValueError, match="not.*graph nodes|graph nodes"):
        pagerank(df, personalize=[1, 99])


def test_personalized_empty_graph_still_refuses(spark):
    """The seed check runs BEFORE the empty-graph return: an upstream
    filter that emptied the pair frame gets the loud refusal, not a
    silent empty result (review finding)."""
    empty = spark.createDataFrame([], "id_a long, id_b long")
    with pytest.raises(ValueError, match="graph nodes"):
        pagerank(empty, personalize=[1, 2])


def _np_weighted(edges_w, n_ids, damping=0.85, tol=1e-6, max_iter=40,
                 directed=True):
    """Weighted power iteration: out-mass proportional to edge weight,
    duplicate (a, b) weights summed — mirroring the operator."""
    ids = sorted(n_ids)
    idx = {v: i for i, v in enumerate(ids)}
    n = len(ids)
    w: dict[tuple, float] = {}
    for a, b, x in edges_w:
        w[(a, b)] = w.get((a, b), 0.0) + x
        if not directed:
            w[(b, a)] = w.get((b, a), 0.0) + x
    out = np.zeros(n)
    for (a, _b), x in w.items():
        out[idx[a]] += x
    r = np.full(n, 1.0 / n)
    for _ in range(max_iter):
        dangling = r[out == 0].sum()
        inflow = np.zeros(n)
        for (a, b), x in w.items():
            inflow[idx[b]] += r[idx[a]] * x / out[idx[a]]
        nr = (1 - damping) / n + damping * (inflow + dangling / n)
        if np.abs(nr - r).sum() < tol:
            r = nr
            break
        r = nr
    return {v: r[idx[v]] for v in ids}


def test_weighted_matches_numpy(spark):
    edges = [
        (1, 2, 3.0), (1, 3, 1.0), (2, 3, 2.0), (3, 1, 1.0),
        (4, 3, 0.5), (1, 2, 1.0),  # duplicate (1,2): weights SUM
        (3, 8, 2.0),  # 8 dangling
    ]
    df = spark.createDataFrame(edges, "id_a long, id_b long, sim double")
    for directed in (True, False):
        got = {
            r.id: r.rank
            for r in pagerank(
                df, directed=directed, weight_col="sim"
            ).collect()
        }
        want = _np_weighted(edges, set(got), directed=directed)
        for k in got:
            assert got[k] == pytest.approx(want[k], abs=1e-6), (directed, k)
        assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
    # weight asymmetry matters: 1 sends 4/5 of its mass to 2 — with
    # uniform weights 2 and 3 would split it evenly
    got = {
        r.id: r.rank
        for r in pagerank(df, directed=True, weight_col="sim").collect()
    }
    unif = {
        r.id: r.rank
        for r in pagerank(
            df.select("id_a", "id_b").distinct(), directed=True
        ).collect()
    }
    assert got[2] > unif[2]


def test_weighted_validation(spark):
    df = spark.createDataFrame(
        [(1, 2, 0.0), (2, 3, 1.0)], "id_a long, id_b long, sim double"
    )
    with pytest.raises(ValueError, match="strictly positive"):
        pagerank(df, weight_col="sim")
    dfn = spark.createDataFrame(
        [(1, 2, None), (2, 3, 1.0)], "id_a long, id_b long, sim double"
    )
    with pytest.raises(ValueError, match="strictly positive"):
        pagerank(dfn, weight_col="sim")


def test_weighted_raw_validation_and_selfloop_parity(spark):
    """Raw weights validate BEFORE the duplicate sum (a NULL on a
    duplicate row was silently absorbed), and an undirected self-loop
    carries the SAME relative weight as in the unweighted path —
    symmetrization must not mirror it (review findings)."""
    dup_null = spark.createDataFrame(
        [(1, 2, None), (1, 2, 0.7)], "id_a long, id_b long, sim double"
    )
    with pytest.raises(ValueError, match="strictly positive"):
        pagerank(dup_null, weight_col="sim")
    dup_neg = spark.createDataFrame(
        [(1, 2, -0.5), (1, 2, 1.0)], "id_a long, id_b long, sim double"
    )
    with pytest.raises(ValueError, match="strictly positive"):
        pagerank(dup_neg, weight_col="sim")
    # self-loop parity: weight-1 everywhere == unweighted, exactly
    loop = spark.createDataFrame(
        [(1, 1, 1.0), (1, 2, 1.0)], "id_a long, id_b long, sim double"
    )
    w = {r.id: r.rank for r in pagerank(loop, weight_col="sim").collect()}
    u = {
        r.id: r.rank
        for r in pagerank(loop.select("id_a", "id_b")).collect()
    }
    for k in u:
        assert w[k] == pytest.approx(u[k], abs=1e-12), k


UPSTREAM_CASES = {
    "pagerank": lambda p: pagerank(p),
    "pagerank_weighted": lambda p: pagerank(p, weight_col="w"),
    "pagerank_directed": lambda p: pagerank(p, directed=True),
    "label_propagation": lambda p: label_propagation(p),
    "label_propagation_weighted": lambda p: label_propagation(
        p, weight_col="w"
    ),
    "k_core": lambda p: k_core(p, 1),
    "k_core_weighted": lambda p: k_core(p, 1.0, weight_col="w"),
    "bfs_distances": lambda p: bfs_distances(p, [1]),
    "triangle_count": lambda p: triangle_count(p),
}


@pytest.mark.parametrize("case", sorted(UPSTREAM_CASES))
def test_upstream_executes_once(spark, case):
    """Every graph operator reads its pair frame through one eagerly
    checkpointed projection, so the upstream pair subtree executes
    exactly once — not once for the weight validation (an action), again
    for the vertex set and again inside the edge checkpoint. Counted
    with a per-partition accumulator on a single-partition source."""
    acc = spark.sparkContext.accumulator(0)

    def tap(it):
        acc.add(1)
        yield from it

    rows = [(1, 2, 2.0), (2, 3, 1.0), (1, 3, 1.0)]
    rdd = spark.sparkContext.parallelize(rows, 1).mapPartitions(tap)
    pairs = spark.createDataFrame(rdd, "id_a long, id_b long, w double")
    out = UPSTREAM_CASES[case](pairs).collect()
    assert out
    if case.startswith("pagerank"):
        assert abs(sum(r.rank for r in out) - 1.0) < 1e-9
    assert acc.value == 1


def test_null_endpoints_dropped_mass_conserved(spark):
    """A (NULL, x) pair must not put NULL into the vertex set: the NULL
    node's edge never equi-joins, so its rank mass would silently leak
    out of the distribution every round (total rank < 1) and a NULL-id
    rank row would surface. The LPA contract (round-9 review, both
    passes): the EDGE drops, the non-NULL ENDPOINT stays a vertex."""
    df = spark.createDataFrame(
        [(1, 2), (None, 3), (2, None), (2, 3)], "id_a long, id_b long"
    )
    out = pagerank(df).collect()
    ids = {r.id for r in out}
    assert None not in ids and ids == {1, 2, 3}
    assert abs(sum(r.rank for r in out) - 1.0) < 1e-9
    # values equal the NULL-free graph's exactly (every endpoint here
    # also carries a real edge, so the vertex sets coincide)
    clean = {
        r.id: r.rank
        for r in pagerank(
            spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
        ).collect()
    }
    assert {r.id: r.rank for r in out} == pytest.approx(clean)


def test_half_null_pair_keeps_isolated_vertex(spark):
    """A vertex whose ONLY pairs are half-NULL stays in the vertex set
    as an ISOLATED node (LPA keeps it as a singleton community — the
    round-9 review found the first fix dropped it from ranks, silently
    desyncing the two vertex sets). Isolated ⇒ dangling even in
    undirected mode; mass still sums to 1 and matches numpy."""
    df = spark.createDataFrame(
        [(1, 2), (None, 7)], "id_a long, id_b long"
    )
    got = {r.id: r.rank for r in pagerank(df).collect()}
    assert set(got) == {1, 2, 7}
    assert abs(sum(got.values()) - 1.0) < 1e-9
    want = _np_pagerank([(1, 2)], {1, 2, 7}, directed=False)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-6)
    # and the vertex set now matches label_propagation's exactly
    assert {r.id for r in label_propagation(df).collect()} == set(got)


def test_bad_weight_on_half_null_row_still_refuses(spark):
    """The loud-refusal contract is on the RAW weight column, the same
    for pagerank, label_propagation and k_core: a negative weight riding a half-NULL row (the
    shape of an upstream join bug) must refuse even though that row's
    edge is dropped (round-9 review, 2nd pass)."""
    df = spark.createDataFrame(
        [(1, 2, 1.0), (None, 3, -1.0)], "id_a long, id_b long, w double"
    )
    with pytest.raises(ValueError, match="strictly positive"):
        pagerank(df, weight_col="w")
    with pytest.raises(ValueError, match="strictly positive"):
        label_propagation(df, weight_col="w")
    with pytest.raises(ValueError, match="strictly positive"):
        k_core(df, 1.0, weight_col="w")
