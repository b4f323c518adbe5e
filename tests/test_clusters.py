"""Duplicate-cluster resolution: both the driver union-find path and the
distributed small-star/large-star loop (forced with ``small_graph_max=0``)
must equal a Python union-find on adversarial graph shapes and on real
minhash pairs at sf0.01, and the cluster-resolved dedup action must keep
exactly one representative per component (unlike pairwise keep-first,
which over-deletes on chains)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_hadoop_spark.operators.dedup import (
    SMALL_GRAPH_MAX_EDGES,
    dedup_by_clusters,
    duplicate_clusters,
    minhash_lsh_pairs,
)
from big_data_hadoop_spark.sources.io import load_table
from tests.conftest import SF_ORACLE


def _union_find(pairs):
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical = min id per component
    comp: dict[int, list[int]] = {}
    for x in parent:
        comp.setdefault(find(x), []).append(x)
    return {m: min(ms + [root]) for root, ms in comp.items() for m in ms}


def _clusters_of(spark, pairs, **kw):
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    return {
        r.member_id: r.cluster_id
        for r in duplicate_clusters(df, **kw).collect()
    }


def test_matches_union_find_on_adversarial_shapes(spark):
    # chain (diameter > 1), star, triangle+bridge, two disjoint comps,
    # and a component whose min id arrives via the far end of the chain
    pairs = [
        (2, 3), (3, 4), (4, 5), (5, 6),          # chain, min=2
        (10, 11), (10, 12), (10, 13),            # star, min=10
        (20, 21), (21, 22), (20, 22), (22, 23),  # triangle + bridge
        (30, 31),                                 # tiny comp
        (42, 41), (41, 40), (40, 1),              # min joins at the end
    ]
    assert _clusters_of(spark, pairs) == _union_find(pairs)


def test_star_matches_union_find_on_adversarial_shapes(spark):
    """The distributed small-star/large-star loop (forced past the
    driver path) must produce IDENTICAL clusters to union-find on
    star-hostile shapes: a long chain whose minimum sits at the far
    end, a binary tree, a barbell (two cliques + long bridge) and a
    self-pair."""
    chain = [(i, i + 1) for i in range(100, 400)] + [(400, 7)]
    tree = [((i - 1) // 2 + 1000, i + 1000) for i in range(1, 64)]
    barbell = (
        [(500 + a, 500 + b) for a in range(5) for b in range(a + 1, 5)]
        + [(600 + a, 600 + b) for a in range(5) for b in range(a + 1, 5)]
        + [(504, 550), (550, 551), (551, 600)]
    )
    pairs = chain + tree + barbell + [(9000, 9000)]  # self-pair too
    got = _clusters_of(spark, pairs, small_graph_max=0)
    expect = _union_find([(a, b) for a, b in pairs if a != b])
    expect[9000] = 9000  # self-pair id is its own cluster
    assert got == expect


def test_far_minimum_chain_matches_union_find(spark):
    """A 61-node chain whose minimum (7) hangs off the FAR end: label
    propagation from the near end needs a round per hop, the star loop
    needs O(log n) alternations. Forced distributed, the labels must
    all be 7."""
    pairs = [(i, i + 1) for i in range(100, 160)] + [(160, 7)]
    got = _clusters_of(spark, pairs, small_graph_max=0)
    assert got == _union_find(pairs)
    assert set(got.values()) == {7}


def test_non_convergence_raises(spark):
    """Running out of ``max_iter`` alternations is an error, never a
    silent return of non-minimum labels."""
    pairs = [(i, i + 1) for i in range(1, 10_000)]
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="max_iter=3"):
        duplicate_clusters(df, max_iter=3, small_graph_max=0)


@pytest.mark.parametrize(
    "small_graph_max", [SMALL_GRAPH_MAX_EDGES, 0], ids=["driver", "distributed"]
)
def test_null_endpoints_one_rule_on_both_paths(spark, small_graph_max):
    """A half-NULL pair contributes no edge but keeps its non-NULL id as
    a node (its own cluster unless linked elsewhere); NULL is never
    emitted. The driver and distributed paths agree."""
    pairs = [(1, 2), (2, None), (None, 3), (None, None)]
    got = _clusters_of(spark, pairs, small_graph_max=small_graph_max)
    assert got == {1: 1, 2: 1, 3: 3}


def test_star_converges_in_log_rounds_on_10k_chain(spark):
    """A 10,000-node chain with the minimum at the far end: diameter
    10k, the shape that breaks plain propagation. Each alternation
    halves the remaining stride on a path, so convergence takes
    ~log2(10000) ≈ 14 alternations (O(log n), SoCC'14) — max_iter is
    capped at 16, so diameter-bound convergence (10,000 rounds needed)
    would exhaust it and raise."""
    n = 10_000
    pairs = [(i, i + 1) for i in range(1, n)]
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = duplicate_clusters(df, max_iter=16, small_graph_max=0)
    assert got.filter(F.col("cluster_id") != 1).count() == 0
    assert got.count() == n


@pytest.mark.parametrize(
    "small_graph_max", [SMALL_GRAPH_MAX_EDGES, 0], ids=["driver", "distributed"]
)
def test_matches_union_find_on_minhash_pairs_sf001(spark, small_graph_max):
    docs = load_table(spark, SF_ORACLE, "documents")
    pairs_df = minhash_lsh_pairs(docs, threshold=0.7)
    pairs = [(r.id_a, r.id_b) for r in pairs_df.collect()]
    assert pairs, "fixture corpus must contain near-dups"
    got = {
        r.member_id: r.cluster_id
        for r in duplicate_clusters(
            pairs_df, small_graph_max=small_graph_max
        ).collect()
    }
    assert got == _union_find(pairs)


def test_dedup_by_clusters_keeps_one_per_component(spark):
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(1, 8)], "doc_id long, text string"
    )
    # chain 1-2-3 and pair 5-6; 4 and 7 untouched
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "id_a long, id_b long"
    )
    kept = {r.doc_id for r in dedup_by_clusters(docs, pairs).collect()}
    assert kept == {1, 4, 5, 7}
    # pairwise keep-first would also have dropped 3's whole chain the
    # same way here, but on (2,3) alone it would drop 3 even if 3 only
    # resembles 2 — the cluster rule keeps exactly min per component
    singles = duplicate_clusters(pairs)
    assert {r.cluster_id for r in singles.collect()} == {1, 5}


def test_curate_cluster_mode_keeps_component_minimum(spark):
    """Funnel integration: cluster mode must keep exactly the minimum id
    per near-dup component of the pairwise survivors, and at least as
    many docs as pairwise mode (which over-deletes on chains)."""
    from big_data_hadoop_spark.pipeline import curate_training_data

    docs = load_table(spark, SF_ORACLE, "documents")
    pairwise = {
        r.doc_id
        for r in curate_training_data(docs, neardup_threshold=0.7)
        .select("doc_id")
        .collect()
    }
    clustered = {
        r.doc_id
        for r in curate_training_data(
            docs, neardup_threshold=0.7, neardup_mode="cluster"
        )
        .select("doc_id")
        .collect()
    }
    base = {
        r.doc_id
        for r in curate_training_data(docs).select("doc_id").collect()
    }
    pairs = [
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(
            curate_training_data(docs), threshold=0.7
        ).collect()
    ]
    expect = base - {
        m for m, c in _union_find(pairs).items() if m != c
    }
    assert clustered == expect
    assert pairwise <= clustered


def test_q58_probe_matches_union_find(spark):
    """The q58 registry probe's clusters must be exactly the union-find
    components of the same pair relation."""
    from big_data_hadoop_spark.probes import QUERIES

    docs = load_table(spark, SF_ORACLE, "documents")
    pairs = [
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(docs, threshold=0.7).collect()
    ]
    uf = _union_find(pairs)
    comps: dict[int, set[int]] = {}
    for m, c in uf.items():
        comps.setdefault(c, set()).add(m)
    got = {
        r.cluster_id: (r.n_members, r.members)
        for r in QUERIES["q58_dedup_clusters"](spark, SF_ORACLE).collect()
    }
    assert got == {
        c: (len(ms), ",".join(str(m) for m in sorted(ms)))
        for c, ms in comps.items()
    }


def test_q85_probe_matches_union_find(spark):
    """The q85 registry probe (the distributed star loop, forced with
    ``small_graph_max=0``) must report (cluster_id, n_members) equal to
    the union-find component sizes of the same pairs."""
    from big_data_hadoop_spark.probes import QUERIES

    docs = load_table(spark, SF_ORACLE, "documents")
    pairs = [
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(docs, threshold=0.7).collect()
    ]
    uf = _union_find(pairs)
    sizes: dict[int, int] = {}
    for _, root in uf.items():
        sizes[root] = sizes.get(root, 0) + 1
    got = {
        r.cluster_id: r.n_members
        for r in QUERIES["q85_star_clusters"](spark, SF_ORACLE).collect()
    }
    assert got == sizes and got


def test_stats_hook_reports_log_rounds(spark):
    """The stats out-param reports star alternations: on a 1000-node
    chain the loop must converge in O(log n) alternations (≤ 12 for
    n=1000) — the hook the sf1 exhibit uses to show rounds stay FLAT
    as data grows."""
    pairs = [(i, i + 1) for i in range(1, 1000)]
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    star_stats: dict = {}
    got = duplicate_clusters(
        df, max_iter=16, stats=star_stats, small_graph_max=0
    )
    assert got.filter(F.col("cluster_id") != 1).count() == 0
    assert 2 <= star_stats["rounds"] <= 12


def test_dedup_keep_best_col_keeps_argmax_per_cluster(spark):
    """keep_best_col switches the representative rule from minimum id
    to highest score (ties → minimum id): components (1,2,3) and
    (10,11) with scores making 2 and 11 the best must keep exactly
    {2, 11} plus the untouched singleton 99."""
    from big_data_hadoop_spark.operators.dedup import dedup_by_clusters

    docs = spark.createDataFrame(
        [
            (1, 0.5),
            (2, 0.9),
            (3, 0.9),  # ties with... no: 2 and 3 tie — min id 2 wins
            (10, 0.1),
            (11, 0.7),
            (99, 0.0),
        ],
        "doc_id long, score double",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    kept = sorted(
        r.doc_id
        for r in dedup_by_clusters(
            docs, pairs, keep_best_col="score"
        ).collect()
    )
    assert kept == [2, 11, 99]
    # default rule unchanged: minimum id per component
    kept_min = sorted(
        r.doc_id for r in dedup_by_clusters(docs, pairs).collect()
    )
    assert kept_min == [1, 10, 99]


def test_empty_pair_graph_short_circuits_both_methods(spark):
    """An EMPTY pair graph (the clean-batch case on every store verb's
    within-batch pass) must resolve to an empty cluster frame without
    running a star round, at the default bound and at
    ``small_graph_max=0`` alike: rounds == 0 via the stats hook, output
    schema/types unchanged, and dedup_by_clusters keeps every doc."""
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    for small_graph_max in (SMALL_GRAPH_MAX_EDGES, 0):
        stats: dict = {}
        out = duplicate_clusters(
            pairs, stats=stats, small_graph_max=small_graph_max
        )
        assert out.columns == ["member_id", "cluster_id"]
        assert [f.dataType.simpleString() for f in out.schema.fields] == [
            "bigint",
            "bigint",
        ]
        assert out.count() == 0
        assert stats == {"rounds": 0}
    docs = spark.createDataFrame([(1, "a"), (2, "b")], "doc_id long, text string")
    kept = dedup_by_clusters(docs, pairs)
    assert sorted(r.doc_id for r in kept.collect()) == [1, 2]


def test_small_graph_fast_path_matches_distributed(spark):
    """The driver union-find fast path (small_graph_max) must produce
    EXACTLY the distributed star loop's labels — same (member, component
    minimum) pairs, same schema — on a graph mixing chains, stars, a
    self-loop, and singleton-free ids, and stats must report rounds=0
    (no propagation executed). The 10k-chain/convergence tests force
    small_graph_max=0, so the distributed iteration stays pinned."""
    from pyspark.sql import functions as F  # noqa: F811

    pairs = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 10), (20, 20),
             (30, 31), (7, 3)]
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    fast_stats: dict = {}
    fast = duplicate_clusters(df, stats=fast_stats)
    assert fast_stats == {"rounds": 0}
    assert fast.columns == ["member_id", "cluster_id"]
    assert [f.dataType.simpleString() for f in fast.schema.fields] == [
        "bigint",
        "bigint",
    ]
    got = {r.member_id: r.cluster_id for r in fast.collect()}
    slow = {
        r.member_id: r.cluster_id
        for r in duplicate_clusters(df, small_graph_max=0).collect()
    }
    assert got == slow == _union_find(pairs)
    # boundary: a graph LARGER than the bound must go distributed and
    # still agree (small_graph_max counts SYMMETRIC edge rows)
    tiny_bound = duplicate_clusters(df, small_graph_max=2)
    assert {
        r.member_id: r.cluster_id for r in tiny_bound.collect()
    } == got
