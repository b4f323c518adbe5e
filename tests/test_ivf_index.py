"""IVF index build/reuse API (VERDICT r3 #2): one ``ivf_build`` fit, many
``ivf_search`` calls — results identical to the one-shot ``ivf_topk`` with
ZERO refits, asserted via the module fit counter. The bucketed-table
persistence path round-trips the assignment through storage."""

from __future__ import annotations

import pytest

from big_data_hadoop_spark.operators import similarity as sim


@pytest.fixture()
def corpus(spark):
    # Deterministic clustered-ish vectors: 3 obvious groups in dim 6.
    rows = []
    for i in range(45):
        g = i % 3
        base = [0.0] * 6
        base[g * 2] = 10.0
        base[g * 2 + 1] = 5.0
        vec = [v + ((i * 7 + j * 3) % 5) * 0.1 for j, v in enumerate(base)]
        rows.append((i, vec))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_build_once_search_many_matches_one_shot(corpus):
    qids = [0, 1, 2, 40]
    expected = {
        (r.query_id, r.neighbor_id, round(r.sim, 12))
        for r in sim.ivf_topk(corpus, qids, k=4, n_cells=6, n_probe=3).collect()
    }

    fits_before = sim.IVF_FIT_COUNT
    index = sim.ivf_build(corpus, n_cells=6)
    assert sim.IVF_FIT_COUNT == fits_before + 1

    for _ in range(2):  # search twice: the index is reused, never refit
        got = {
            (r.query_id, r.neighbor_id, round(r.sim, 12))
            for r in sim.ivf_search(index, qids, k=4, n_probe=3).collect()
        }
        assert got == expected
    assert sim.IVF_FIT_COUNT == fits_before + 1  # still exactly one fit


def test_build_persists_bucketed_assignment(corpus, spark):
    table = "ivf_assign_test"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    try:
        index = sim.ivf_build(corpus, n_cells=6, table=table, buckets=4)
        # the assignment now comes from bucketed storage, not recompute
        assert index.assigned.sparkSession.catalog.tableExists(table)
        stored = spark.table(table)
        assert set(stored.columns) == {"vec_id", "cell", "emb_d", "nrm"}
        assert stored.count() == 45

        got = {
            (r.query_id, r.neighbor_id, round(r.sim, 12))
            for r in sim.ivf_search(index, [0, 1], k=3, n_probe=6).collect()
        }
        exp = {
            (r.query_id, r.neighbor_id, round(r.sim, 12))
            for r in sim.ivf_topk(
                corpus, [0, 1], k=3, n_cells=6, n_probe=6
            ).collect()
        }
        assert got == exp
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_empty_corpus_build_search(spark):
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    index = sim.ivf_build(empty)
    out = sim.ivf_search(index, [1, 2])
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "query_id", "neighbor_id", "sim",
    ]


def test_small_train_cap_takes_counted_path(corpus):
    # ADVICE r4: with a small cap (100) the 4x-headroom argument alone
    # is not enough — the build must fall through to the LIMIT-count so
    # KMeans k can never exceed the actual sample size.
    index = sim.ivf_build(corpus, n_cells=6, train_cap=100, n_rows=1000)
    assert 1 <= len(index.centroids) <= 6


def test_search_vectors_external_queries(spark, corpus):
    """ivf_search_vectors must serve EXTERNAL vectors: full probe equals
    a numpy brute-force top-k over the corpus (no self-exclusion), and a
    partial probe returns k well-formed, descending results per query."""
    import numpy as np

    index = sim.ivf_build(corpus, n_cells=6)
    qrows = [
        (100, [10.0, 5.0, 0.3, 0.1, 0.0, 0.2]),   # near group 0
        (101, [0.1, 0.0, 10.2, 4.9, 0.0, 0.1]),   # near group 1
        (102, [1.0, 1.0, 1.0, 1.0, 1.0, 1.0]),    # equidistant-ish
    ]
    queries = spark.createDataFrame(
        qrows, "query_id long, embedding array<double>"
    )
    got = sim.ivf_search_vectors(index, queries, k=3, n_probe=6).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append((r.neighbor_id, r.sim))

    corpus_rows = corpus.collect()
    for qid, qv in qrows:
        qv = np.array(qv)
        sims = sorted(
            (
                (
                    float(
                        np.dot(qv, np.array(r.embedding))
                        / (np.linalg.norm(qv) * np.linalg.norm(r.embedding))
                    ),
                    r.vec_id,
                )
                for r in corpus_rows
            ),
            key=lambda t: (-t[0], t[1]),
        )[:3]
        expect = [(vid, round(s, 9)) for s, vid in sims]
        assert [
            (nid, round(s, 9)) for nid, s in by_q[qid]
        ] == expect, qid

    partial = sim.ivf_search_vectors(index, queries, k=3, n_probe=2).collect()
    per_q = {}
    for r in partial:
        per_q.setdefault(r.query_id, []).append(r.sim)
    for qid, sims in per_q.items():
        assert 1 <= len(sims) <= 3
        assert sims == sorted(sims, reverse=True)


def test_cosine_topk_vectors_is_exact_reference_for_ivf(spark, corpus):
    """cosine_topk_vectors (brute force, external queries) must equal
    ivf_search_vectors at full probe — the same exact-verifier contract
    corpus-id search has with cosine_topk."""
    queries = spark.createDataFrame(
        [(200, [9.8, 5.2, 0.0, 0.4, 0.1, 0.0]), (201, [0.2, 0.1, 0.0, 0.3, 10.1, 5.0])],
        "query_id long, embedding array<double>",
    )
    brute = {
        (r.query_id, r.neighbor_id, round(r.sim, 9))
        for r in sim.cosine_topk_vectors(corpus, queries, k=4).collect()
    }
    index = sim.ivf_build(corpus, n_cells=6)
    full_probe = {
        (r.query_id, r.neighbor_id, round(r.sim, 9))
        for r in sim.ivf_search_vectors(index, queries, k=4, n_probe=6).collect()
    }
    assert brute == full_probe and len(brute) == 8


def test_save_load_roundtrip_serves_identically(spark, corpus):
    """ivf_save -> ivf_load in a 'different job' must serve exactly the
    in-memory index's results with zero refits."""
    index = sim.ivf_build(corpus, n_cells=6)
    queries = spark.createDataFrame(
        [(300, [10.2, 4.8, 0.1, 0.0, 0.3, 0.0])],
        "query_id long, embedding array<double>",
    )
    want = {
        (r.query_id, r.neighbor_id, round(r.sim, 12))
        for r in sim.ivf_search_vectors(index, queries, k=4, n_probe=3).collect()
    }
    fits_before = sim.IVF_FIT_COUNT
    sim.ivf_save(index, "ivf_rt", buckets=4)
    loaded = sim.ivf_load(spark, "ivf_rt")
    got = {
        (r.query_id, r.neighbor_id, round(r.sim, 12))
        for r in sim.ivf_search_vectors(loaded, queries, k=4, n_probe=3).collect()
    }
    assert got == want and got
    assert loaded.centroids == index.centroids
    assert loaded.id_col == index.id_col
    assert sim.IVF_FIT_COUNT == fits_before  # no refit anywhere
    spark.sql("DROP TABLE IF EXISTS ivf_rt")
    spark.sql("DROP TABLE IF EXISTS ivf_rt_meta")


def test_topk_recall_audit_books(spark, corpus):
    """The retrieval-tier recall audit (q92/r11 discipline): exact ==
    approx gives recall 1.0 on every book; a starved probe budget
    (n_probe=1) measures BELOW 1.0 with misses concentrated on
    cross-cell queries; full probe restores 1.0 (ivf degrades to
    exact). Books verified against a hand count."""
    qids = [0, 1, 2, 40]
    exact = sim.cosine_topk(corpus, qids, k=4)
    # self-audit: identical frames -> perfect recall, one row per query
    per_q, s = sim.topk_recall_audit(exact, exact)
    assert s["queries"] == 4
    assert s["macro_recall"] == s["micro_recall"] == s["min_recall"] == 1.0
    assert all(r.recall == 1.0 and r.hit == r.exact_k for r in per_q.collect())
    index = sim.ivf_build(corpus, n_cells=6)
    # full probe degrades to exact: measured recall must be 1.0
    _pq, full = sim.topk_recall_audit(
        exact, sim.ivf_search(index, qids, k=4, n_probe=6)
    )
    assert full["macro_recall"] == 1.0 and full["min_recall"] == 1.0
    # starved probe budget: recall is a measured number in [0, 1], and
    # the books must agree with a pure-Python recount of the two frames
    approx = sim.ivf_search(index, qids, k=4, n_probe=1)
    per_q2, s2 = sim.topk_recall_audit(exact, approx)
    want_e = {}
    for r in exact.collect():
        want_e.setdefault(r.query_id, set()).add(r.neighbor_id)
    got_a = {}
    for r in approx.collect():
        got_a.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = {q: len(want_e[q] & got_a.get(q, set())) for q in want_e}
    assert s2["queries"] == len(want_e)
    assert s2["micro_recall"] == pytest.approx(
        sum(hits.values()) / sum(len(v) for v in want_e.values())
    )
    assert s2["macro_recall"] == pytest.approx(
        sum(hits[q] / len(want_e[q]) for q in want_e) / len(want_e)
    )
    assert s2["min_recall"] == pytest.approx(
        min(hits[q] / len(want_e[q]) for q in want_e)
    )
    for r in per_q2.collect():
        assert r.hit == hits[r.query_id] and r.exact_k == len(
            want_e[r.query_id]
        )
    # an empty approximate result is measured as recall 0, not an error
    _pq3, s3 = sim.topk_recall_audit(exact, approx.limit(0))
    assert s3["macro_recall"] == 0.0 and s3["micro_recall"] == 0.0


def test_lsh_multi_table_backcompat_and_monotone_recall(spark, corpus):
    """The round-12 LSH recall lever (multi-table OR-construction):
    ``n_tables=1`` must be ROW-identical to the historical single-table
    call (table 0's planes are the single-table plane set), the output
    must stay duplicate-free (a pair found by several tables ranks
    once) with at most k rows per query, and recall@k against the
    exact cosine top-k must be monotone non-decreasing in ``n_tables``
    (candidate sets are nested — each extra table only ADDS pairs)."""
    qids = [0, 1, 2, 40]
    k = 5
    exact = sim.cosine_topk(corpus, query_ids=qids, k=k, dim=6)
    legacy = {
        (r.query_id, r.neighbor_id, round(r.sim, 12))
        for r in sim.lsh_bucketed_topk(
            corpus, query_ids=qids, k=k, dim=6, num_planes=6
        ).collect()
    }
    single = {
        (r.query_id, r.neighbor_id, round(r.sim, 12))
        for r in sim.lsh_bucketed_topk(
            corpus, query_ids=qids, k=k, dim=6, num_planes=6, n_tables=1
        ).collect()
    }
    assert single == legacy
    prev = -1.0
    for n_tables in (1, 2, 4):
        got = sim.lsh_bucketed_topk(
            corpus, query_ids=qids, k=k, dim=6, num_planes=6,
            n_tables=n_tables,
        ).collect()
        pairs = [(r.query_id, r.neighbor_id) for r in got]
        assert len(pairs) == len(set(pairs))  # dup-free
        per_q: dict = {}
        for q, nbr in pairs:
            per_q.setdefault(q, []).append(nbr)
        assert all(len(v) <= k for v in per_q.values())
        _m, s = sim.topk_recall_audit(exact, spark.createDataFrame(
            [(r.query_id, r.neighbor_id, r.sim) for r in got],
            "query_id long, neighbor_id long, sim double",
        ))
        assert s["macro_recall"] >= prev - 1e-12, (n_tables, s, prev)
        prev = s["macro_recall"]
    with pytest.raises(ValueError):
        sim.lsh_bucketed_topk(
            corpus, query_ids=qids, k=k, dim=6, num_planes=6, n_tables=0
        )


def _lsh_reference(vecs, qids, k, num_planes, seed):
    """Single-table hyperplane LSH top-k in pure Python: the sin-stream
    planes, bit p set when the left-fold dot with plane p is >= 0,
    same-bucket candidates (never the query itself, never a zero
    vector), left-fold cosine, top k by (sim desc, id asc)."""
    import math

    def fold(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    dim = len(next(iter(vecs.values())))
    planes = [
        [math.sin(seed + p * 1009 + i * 9176) for i in range(dim)]
        for p in range(num_planes)
    ]
    live = {i: v for i, v in vecs.items() if any(x != 0.0 for x in v)}
    bucket = {
        i: sum(1 << p for p, pl in enumerate(planes) if fold(v, pl) >= 0)
        for i, v in live.items()
    }
    nrm = {i: math.sqrt(fold(v, v)) for i, v in live.items()}
    out = set()
    for q in qids:
        if q not in live:
            continue
        cands = [
            (fold(live[q], live[c]) / (nrm[q] * nrm[c]), c)
            for c in live
            if c != q and bucket[c] == bucket[q]
        ]
        cands.sort(key=lambda t: (-t[0], t[1]))
        out |= {(q, c, sim) for sim, c in cands[:k]}
    return out


@pytest.mark.parametrize("num_planes,seed", [(3, 42), (2, 7)])
def test_lsh_single_table_matches_python_reference(spark, num_planes, seed):
    """``lsh_bucketed_topk(n_tables=1)`` row-equal to a pure-Python
    single-table LSH, sims compared exactly: a zero vector (as corpus
    row and as query) and a scaled copy of row 0 (exact cosine ties,
    broken by the lower id) are included."""
    vecs = {}
    for i in range(45):
        g = i % 3
        base = [0.0] * 6
        base[g * 2] = 10.0
        base[g * 2 + 1] = 5.0
        vecs[i] = [v + ((i * 7 + j * 3) % 5) * 0.1 for j, v in enumerate(base)]
    vecs[45] = [0.0] * 6
    vecs[46] = [2.0 * x for x in vecs[0]]
    df = spark.createDataFrame(
        sorted(vecs.items()), "vec_id long, embedding array<double>"
    )
    qids = [0, 1, 2, 40, 45, 46]
    got = {
        (r.query_id, r.neighbor_id, r.sim)
        for r in sim.lsh_bucketed_topk(
            df, query_ids=qids, k=5, dim=6, num_planes=num_planes,
            n_tables=1, seed=seed,
        ).collect()
    }
    want = _lsh_reference(vecs, qids, 5, num_planes, seed)
    assert len(want) == 25  # five live queries, each with a full top-5
    assert got == want


# Hand-pinned centroids with dyadic coordinates, so squared-L2 ties are
# exact in floating point: cell 3 sits midway between cells 0 and 1.
_CENTS = [
    [10.0, 5.0, 0.0, 0.0, 0.0, 0.0],
    [0.0, 0.0, 10.0, 5.0, 0.0, 0.0],
    [0.0, 0.0, 0.0, 0.0, 10.0, 5.0],
    [5.0, 2.5, 5.0, 2.5, 0.0, 0.0],
]


def _np_probe(v, cents, n_probe):
    """The n_probe nearest centroids by left-fold squared L2, lower
    index on ties."""
    d = [sum((float(x) - y) ** 2 for x, y in zip(v, c)) for c in cents]
    return sorted(range(len(cents)), key=lambda i: (d[i], i))[:n_probe]


def _hand_indexes(spark, corpus, cents):
    """An IVF and a raw-mode IVF-PQ index over ``corpus`` whose cells
    are ``cents`` and whose assignment is the NumPy nearest-centroid
    rule — built directly, no coarse KMeans."""
    from big_data_hadoop_spark.operators import pq as pqm

    cells = spark.createDataFrame(
        [(r.vec_id, _np_probe(r.embedding, cents, 1)[0]) for r in corpus.collect()],
        "vec_id long, cell int",
    )
    assigned = sim.with_norm(corpus).join(cells, "vec_id").select(
        "vec_id", "cell", "emb_d", "nrm"
    )
    cb = pqm.pq_train(corpus, dim=6, m=2, k=4, seed=7)
    codes = pqm.pq_encode(corpus, cb).join(cells, "vec_id")
    return (
        sim.IVFIndex(cents, assigned, "vec_id"),
        pqm.IVFPQIndex(centroids=cents, cb=cb, codes=codes, id_col="vec_id"),
    )


def test_partial_probe_matches_numpy_reference(spark, corpus):
    """n_probe < n_cells probes exactly the n_probe nearest centroids,
    lower index on ties, and ranks by exact cosine inside them — for
    ivf_search_vectors row for row, and every raw IVF-PQ hit lies in
    the same cells. Query 300 ties cells 0 and 1 for the second probe;
    query 301 ties cells 1, 2 and 3 for both."""
    import numpy as np

    from big_data_hadoop_spark.operators.pq import ivfpq_search

    index, pindex = _hand_indexes(spark, corpus, _CENTS)
    qrows = [
        (300, [5.0, 2.5, 5.0, 2.5, 0.0, 0.0]),
        (301, [0.0, 0.0, 5.0, 2.5, 5.0, 2.5]),
        (302, [0.1, 0.0, 10.2, 4.9, 0.0, 0.1]),
        (303, [9.9, 5.1, 0.2, 0.0, 0.3, 0.0]),
    ]
    queries = spark.createDataFrame(
        qrows, "query_id long, embedding array<double>"
    )
    probes = {qid: _np_probe(qv, _CENTS, 2) for qid, qv in qrows}
    assert probes[300] == [3, 0] and probes[301] == [1, 2]
    cell_of = {r.vec_id: r.cell for r in index.assigned.collect()}
    corpus_rows = corpus.collect()
    expect = []
    for qid, qv in qrows:
        qv = np.array(qv)
        sims = sorted(
            (
                (
                    float(
                        np.dot(qv, np.array(r.embedding))
                        / (np.linalg.norm(qv) * np.linalg.norm(r.embedding))
                    ),
                    r.vec_id,
                )
                for r in corpus_rows
                if cell_of[r.vec_id] in probes[qid]
            ),
            key=lambda t: (-t[0], t[1]),
        )[:3]
        expect += [(qid, vid, round(s, 9)) for s, vid in sims]
    got = sim.ivf_search_vectors(index, queries, k=3, n_probe=2).collect()
    assert sorted(
        (r.query_id, r.neighbor_id, round(r.sim, 9)) for r in got
    ) == sorted(expect)

    hits = ivfpq_search(pindex, queries, topk=5, n_probe=2).collect()
    assert {r.query_id for r in hits} == set(probes)
    for r in hits:
        assert cell_of[r.vec_id] in probes[r.query_id], r


def test_non_finite_centroid_refused_by_search(spark, corpus):
    """A NaN/inf IVF centroid raises ValueError naming its cell in every
    search path — it used to rank silently last."""
    import dataclasses

    from big_data_hadoop_spark.operators.pq import ivfpq_search

    queries = spark.createDataFrame(
        [(300, [5.0, 2.5, 5.0, 2.5, 0.0, 0.0])],
        "query_id long, embedding array<double>",
    )
    index, pindex = _hand_indexes(spark, corpus, _CENTS)
    for bad in (float("nan"), float("inf")):
        cents = [list(c) for c in _CENTS]
        cents[2][4] = bad
        bad_index = sim.IVFIndex(cents, index.assigned, "vec_id")
        with pytest.raises(ValueError, match="cell 2"):
            sim.ivf_search(bad_index, [0, 1], k=3, n_probe=2)
        with pytest.raises(ValueError, match="cell 2"):
            sim.ivf_search_vectors(bad_index, queries, k=3, n_probe=2)
        for residual in (False, True):
            with pytest.raises(ValueError, match="cell 2"):
                ivfpq_search(
                    dataclasses.replace(
                        pindex, centroids=cents, residual=residual
                    ),
                    queries,
                    n_probe=2,
                )


def test_dot_norm_dim_contract(spark):
    """``dot`` and ``norm``, with or without ``dim``, take column NAMES
    only (a Column raises TypeError), and the unrolled form is
    bit-equal to the array fold: same left-fold association order."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            ([1e16, 1.0, -1e16, 0.1], [1.0, 1.0, 1.0, 3.0]),
            ([0.1, 0.2, 0.3, 1e-300], [0.7, -1.3, 2.9, 1e300]),
        ],
        "a array<double>, b array<double>",
    )
    with pytest.raises(TypeError):
        sim.dot(F.col("a"), F.col("b"), dim=4)
    with pytest.raises(TypeError):
        sim.dot("a", F.col("b"), dim=4)
    with pytest.raises(TypeError):
        sim.dot(F.col("a"), F.col("b"))
    with pytest.raises(TypeError):
        sim.norm(F.col("a"), dim=4)
    with pytest.raises(TypeError):
        sim.norm(F.col("a"))
    rows = df.select(
        sim.dot("a", "b", dim=4).alias("dot_u"),
        sim.dot("a", "b").alias("dot_f"),
        sim.norm("a", dim=4).alias("norm_u"),
        sim.norm("a").alias("norm_f"),
    ).collect()
    for r in rows:
        assert r.dot_u.hex() == r.dot_f.hex()
        assert r.norm_u.hex() == r.norm_f.hex()


def test_ivf_search_vectors_py4j_budget(spark, corpus, py4j_calls):
    """Building (not running) a serving search on a warm index stays
    inside a py4j round-trip budget: the cost of constructing the plan
    is deterministic in calls, unlike its wall time. The budget is
    the count measured once the query cast and norm were parsed from
    one SQL string each and the corpus side became the index's
    resident serving copy (325 calls before; 900 before cell
    assignment and the flat-column scoring were parsed from SQL text;
    959 before the top-k tail became one parsed window)."""
    index = sim.ivf_build(corpus, n_cells=4)
    queries = corpus.filter("vec_id < 8").toDF("query_id", "embedding")
    sim.ivf_search_vectors(index, queries, k=5, n_probe=2)  # warm
    with py4j_calls() as n:
        sim.ivf_search_vectors(index, queries, k=5, n_probe=2)
    assert n[0] <= 211, n[0]


def _ranked_results():
    """One small search per ranked vector or text operator, each built
    by a ``(spark, corpus) -> (DataFrame, rows)`` factory. ``rows`` is
    the result's row count where the search is exhaustive over the 45
    nonzero corpus vectors (8 queries x k=5), else None."""
    from big_data_hadoop_spark.operators import pq
    from big_data_hadoop_spark.operators.bm25 import bm25_index, bm25_topk

    def queries(corpus):
        return corpus.filter("vec_id < 8").toDF("query_id", "embedding")

    def docs(spark):
        return spark.createDataFrame(
            [(i, f"w{i % 3} w{i % 5} shared") for i in range(12)],
            "doc_id long, text string",
        )

    return {
        "ivf_search_vectors": lambda spark, corpus: (sim.ivf_search_vectors(
            sim.ivf_build(corpus, n_cells=4), queries(corpus), k=5, n_probe=2
        ), 8 * 5),
        "ivf_search": lambda spark, corpus: (sim.ivf_search(
            sim.ivf_build(corpus, n_cells=4), list(range(8)), k=5, n_probe=2
        ), 8 * 5),
        "cosine_topk": lambda spark, corpus: (sim.cosine_topk(
            corpus, list(range(8)), k=5
        ), 8 * 5),
        "cosine_topk_vectors": lambda spark, corpus: (sim.cosine_topk_vectors(
            corpus, queries(corpus), k=5
        ), 8 * 5),
        "lsh_bucketed_topk": lambda spark, corpus: (sim.lsh_bucketed_topk(
            corpus, list(range(8)), k=5, dim=6, num_planes=2
        ), None),
        "pq_search": lambda spark, corpus: (pq.pq_search(
            pq.pq_encode(corpus, cb := pq.pq_train(corpus, dim=6, m=2, k=4)),
            cb, queries(corpus), topk=5,
        ), 8 * 5),
        "ivfpq_search": lambda spark, corpus: (pq.ivfpq_search(
            pq.ivfpq_build(corpus, dim=6, n_cells=2, m=2, k=4),
            queries(corpus), topk=5, n_probe=2,
        ), 8 * 5),
        "bm25_topk": lambda spark, corpus: (bm25_topk(
            bm25_index(docs(spark)),
            docs(spark).filter("doc_id < 3").toDF("query_id", "text"),
            topk=5,
        ), None),
    }


def _assert_released_when_dropped(spark, corpus, op):
    """Build the ``op`` result of ``_ranked_results``, collect it (all
    its rows where their count is fixed), drop it, and poll until the
    gateway has forgotten its JVM ``Dataset``. py4j sends the release
    from its finalizer thread, hence the poll."""
    import time

    from py4j.protocol import Py4JError

    res, rows = _ranked_results()[op](spark, corpus)
    jdf = res._jdf
    got = len(res.collect())
    assert got == rows if rows is not None else got > 0, got
    assert not jdf.isEmpty()  # live while the frame is
    del res
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline:
        try:
            jdf.isEmpty()
        except Py4JError:
            return
        time.sleep(0.05)
    pytest.fail(f"the dropped {op} result's Dataset is still bound")


def test_ivf_search_result_releases_its_jvm_query_when_dropped(spark, corpus):
    """Dropping a search result frees its JVM ``Dataset`` without
    waiting for Python's full collection: the gateway forgets the
    object, although py4j's cached-method cycle keeps the Python
    ``JavaObject`` itself uncollected."""
    _assert_released_when_dropped(spark, corpus, "ivf_search_vectors")


@pytest.mark.parametrize(
    "op", sorted(set(_ranked_results()) - {"ivf_search_vectors"})
)
def test_ranked_result_releases_its_jvm_query_when_dropped(spark, corpus, op):
    """Every other ranked vector and text operator returns its result
    the same way as the IVF search: dropping it frees its JVM
    ``Dataset``."""
    _assert_released_when_dropped(spark, corpus, op)


def _assert_refuses_wrong_dimension(spark, corpus, op, width):
    """The ``op`` search of a 6-wide corpus fails when one query vector
    has ``width`` dimensions, with both widths in the message."""
    from big_data_hadoop_spark.operators import pq

    queries = spark.createDataFrame(
        [(1, [1.0] * 6), (2, [1.0] * width)],
        "query_id long, embedding array<double>",
    )
    of = "the codebook"
    if op == "ivf_search_vectors":
        index = sim.ivf_build(corpus, n_cells=4)
        res = sim.ivf_search_vectors(index, queries, k=3, n_probe=2)
        of = "the index"
    elif op == "cosine_topk_vectors":
        res = sim.cosine_topk_vectors(corpus, queries, k=3)
        of = "a corpus vector"
    elif op == "pq_search":
        cb = pq.pq_train(corpus, dim=6, m=2, k=4)
        res = pq.pq_search(pq.pq_encode(corpus, cb), cb, queries, topk=3)
    else:
        index = pq.ivfpq_build(corpus, dim=6, n_cells=2, m=2, k=4)
        res = pq.ivfpq_search(index, queries, topk=3, n_probe=2)
    with pytest.raises(
        Exception, match=f"{op}: a query vector has {width} dimensions, {of} has 6"
    ):
        res.collect()


@pytest.mark.parametrize("width", [5, 7])
def test_ivf_search_vectors_refuses_wrong_dimension(spark, corpus, width):
    """A query vector one element short of or past the index's width
    fails the search with both widths in the message; it no longer
    comes back as neighbours with ``sim = None``."""
    _assert_refuses_wrong_dimension(spark, corpus, "ivf_search_vectors", width)


@pytest.mark.parametrize("width", [5, 7])
@pytest.mark.parametrize(
    "op", ["cosine_topk_vectors", "pq_search", "ivfpq_search"]
)
def test_vector_search_refuses_wrong_dimension(spark, corpus, op, width):
    """The exact search and both PQ searches refuse a wrong-width query
    the same way as the IVF search; they no longer rank it by a partial
    distance."""
    _assert_refuses_wrong_dimension(spark, corpus, op, width)


def test_exact_vector_search_refuses_a_short_corpus_row(spark, corpus):
    """A corpus row of the wrong width fails the exact search with both
    widths in the message, which names the corpus row as the other
    side: the queries are the right width."""
    short = spark.createDataFrame(
        [(99, [1.0] * 5)], "vec_id long, embedding array<double>"
    )
    queries = corpus.filter("vec_id < 2").toDF("query_id", "embedding")
    res = sim.cosine_topk_vectors(corpus.unionByName(short), queries, k=3)
    with pytest.raises(
        Exception,
        match="cosine_topk_vectors: a query vector has 6 dimensions, "
        "a corpus vector has 5",
    ):
        res.collect()


def _search_jobs(spark, fn):
    """``(result rows, Spark jobs run)`` for the action ``fn()``, counted
    by the status tracker over a job group of its own."""
    import uuid

    sc = spark.sparkContext
    group = f"ivf-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count the jobs of one search")
    try:
        rows = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return rows, len(sc.statusTracker().getJobIdsForGroup(group))


def _serves_from_one_partition(spark, index, corpus):
    """After a first search has filled ``index``'s serving copy, the
    copy is one partition and a batch is 2 jobs (the broadcast of the
    probed queries and the result) over an in-memory scan of it, with
    no shuffle; the results equal the exact search at full probe.
    Returns the copy."""
    queries = corpus.filter("vec_id < 8").toDF("query_id", "embedding")
    sim.ivf_search_vectors(index, queries, k=5, n_probe=4).collect()  # fill
    copy = index.serving()
    assert copy.rdd.getNumPartitions() == 1
    res = sim.ivf_search_vectors(index, queries, k=5, n_probe=4)
    rows, jobs = _search_jobs(spark, res.collect)
    assert jobs == 2, jobs
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan, plan
    shuffles = [
        line for line in plan.splitlines()
        if "Exchange" in line and "BroadcastExchange" not in line
    ]
    assert not shuffles and "ShuffleQueryStage" not in plan, plan
    exact = sim.cosine_topk_vectors(corpus, queries, k=5).collect()

    def hexed(rs):
        return sorted((r.query_id, r.neighbor_id, r.sim.hex()) for r in rs)

    assert hexed(rows) == hexed(exact)
    return copy


def test_ivf_search_vectors_serves_from_its_resident_copy(spark, corpus):
    """A table-backed index serves from a one-partition in-memory copy
    of the flat assignment (``nrm > 0`` rows only): the copy already
    satisfies the top-k window's clustering, so a batch plans no
    shuffle."""
    table = "ivf_serving_jobs_test"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    try:
        index = sim.ivf_build(corpus, n_cells=4, table=table, buckets=4)
        copy = _serves_from_one_partition(spark, index, corpus)
        assert copy.columns == ["vec_id", "cell", "nrm"] + [
            f"_a{i}" for i in range(1, 7)
        ]
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_index_over_a_python_side_frame_serves_without_a_shuffle(
    spark, corpus
):
    """An index built without ``table=`` over a ``createDataFrame``
    corpus, which the optimizer cannot size, still gets a one-partition
    serving copy (cut by the size its first copy measured), so its
    searches plan no shuffle under the top-k window either."""
    index = sim.ivf_build(corpus, n_cells=4)
    size = index.assigned._jdf.queryExecution().optimizedPlan().stats()
    assert int(size.sizeInBytes()) >= 2**63 - 1  # no estimate
    _serves_from_one_partition(spark, index, corpus)


def test_dropping_the_index_unpersists_its_serving_copy(spark, corpus):
    """The serving copy's cache entry lives exactly as long as its
    index, and two indexes over one assignment own separate entries:
    dropping one leaves the other's copy cached."""
    import gc

    cache = spark._jsparkSession.sharedState().cacheManager()
    index = sim.ivf_build(corpus, n_cells=4)
    twin = sim.IVFIndex(index.centroids, index.assigned, index.id_col)
    queries = corpus.filter("vec_id < 4").toDF("query_id", "embedding")
    sim.ivf_search_vectors(index, queries, k=3, n_probe=2).collect()
    sim.ivf_search_vectors(twin, queries, k=3, n_probe=2).collect()
    copy, twin_copy = index.serving(), twin.serving()
    assert index.serving() is copy  # filled once
    assert cache.lookupCachedData(copy._jdf).isDefined()
    del index
    gc.collect()
    assert cache.lookupCachedData(copy._jdf).isEmpty()
    assert cache.lookupCachedData(twin_copy._jdf).isDefined()
    del twin
    gc.collect()
    assert cache.lookupCachedData(twin_copy._jdf).isEmpty()


def test_rebuilding_into_the_same_table_serves_the_new_rows(spark, corpus):
    """An index rebuilt into the table of an index that has served
    (and is still alive) fills its own copy from the new rows."""
    table = "ivf_serving_rebuild_test"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    try:
        old = sim.ivf_build(corpus, n_cells=4, table=table, buckets=4)
        queries = corpus.filter("vec_id < 4").toDF("query_id", "embedding")
        got = sim.ivf_search_vectors(old, queries, k=3, n_probe=4).collect()
        assert {r.neighbor_id for r in got} <= set(range(45))
        shifted = corpus.selectExpr("vec_id + 1000 AS vec_id", "embedding")
        new = sim.ivf_build(shifted, n_cells=4, table=table, buckets=4)
        got = sim.ivf_search_vectors(new, queries, k=3, n_probe=4).collect()
        assert len(got) == 4 * 3
        assert {r.neighbor_id for r in got} <= set(range(1000, 1045)), got
        assert old.centroids  # the old index is still alive
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_centroid_matrix_folds_to_exact_doubles(spark):
    """The centroid matrix is one JSON string literal that the optimizer
    folds into a literal array: no ``from_json`` is left in the plan,
    and every double comes back bit-exact, signed zero and subnormals
    included."""
    from pyspark.sql import functions as F

    cents = [[-0.0, 5e-324, 1e308], [1e16, 0.1, -2.5e-310]]
    df = spark.range(1).select(
        F.expr(sim._centroid_matrix(cents)).alias("m")
    )
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert "from_json" not in opt and "JsonToStructs" not in opt, opt
    got = df.first().m
    assert [[x.hex() for x in c] for c in got] == [
        [x.hex() for x in c] for c in cents
    ]
