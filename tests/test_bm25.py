"""Value oracle for ``operators.bm25``: index stats and top-k scores
recomputed in pure Python with the identical tokenization and formula
(tolerance only for float-sum reordering), plus the max_df valve and
rank-contract invariants."""

from __future__ import annotations

import math
from collections import Counter

import pytest

from pyspark.sql import functions as F

from big_data_hadoop_spark.operators.bm25 import bm25_index, bm25_topk
from big_data_hadoop_spark.sources.io import load_table

SF = "/root/testdata/sf0.001"
K1, B = 1.2, 0.75


def _toks(t):
    return [x for x in t.lower().split(" ") if x != ""]


def _py_bm25(texts, qtexts, topk, max_df_frac=None):
    tfs = {d: Counter(_toks(t)) for d, t in texts.items()}
    dlen = {d: sum(c.values()) for d, c in tfs.items()}
    n = len(texts)
    avgdl = sum(dlen.values()) / n
    dfreq = Counter(t for c in tfs.values() for t in c)
    if max_df_frac is not None:
        dfreq = Counter(
            {t: v for t, v in dfreq.items() if v <= n * max_df_frac}
        )
    out = {}
    for q, qt in qtexts.items():
        scores: dict = {}
        for term in set(_toks(qt)):
            if term not in dfreq:
                continue
            idf = math.log(1.0 + (n - dfreq[term] + 0.5) / (dfreq[term] + 0.5))
            for d, c in tfs.items():
                tf = c.get(term, 0)
                if tf == 0:
                    continue
                s = idf * tf * (K1 + 1) / (
                    tf + K1 * (1 - B + B * dlen[d] / avgdl)
                )
                scores[d] = scores.get(d, 0.0) + s
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:topk]
        out[q] = ranked
    return out


@pytest.fixture(scope="module")
def corpus(spark):
    return load_table(spark, SF, "documents").select("doc_id", "text").cache()


def test_topk_matches_python(spark, corpus):
    texts = {r["doc_id"]: r["text"] for r in corpus.collect()}
    queries = corpus.orderBy("doc_id").limit(4).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    idx = bm25_index(corpus)
    got: dict = {}
    for r in bm25_topk(idx, queries, topk=10, k1=K1, b=B).collect():
        got.setdefault(r["query_id"], []).append(r)
    qtexts = {d: texts[d] for d in sorted(texts)[:4]}
    want = _py_bm25(texts, qtexts, topk=10)
    assert set(got) == set(want)
    for q in want:
        rows = sorted(got[q], key=lambda r: r["rank"])
        assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
        assert [r["doc_id"] for r in rows] == [d for d, _ in want[q]]
        for r, (_, s) in zip(rows, want[q]):
            assert r["score"] == pytest.approx(s, rel=1e-9)


def test_query_finds_itself_near_top(spark, corpus):
    """Retrieval sanity: a document used verbatim as the query retrieves
    itself in its own top-10. (Rank 1 is NOT guaranteed by BM25: length
    normalization can favor a shorter near-duplicate that shares the
    rare terms — observed on this corpus's boilerplate-heavy synthetic
    docs — so the pin is membership, not the top slot.)"""
    queries = corpus.orderBy(F.desc("doc_id")).limit(5).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    idx = bm25_index(corpus)
    tops: dict = {}
    for r in bm25_topk(idx, queries, topk=10).collect():
        tops.setdefault(r["query_id"], set()).add(r["doc_id"])
    assert len(tops) == 5
    hits = sum(1 for q, ids in tops.items() if q in ids)
    assert hits >= 4


def test_max_df_valve_drops_common_terms(spark, corpus):
    texts = {r["doc_id"]: r["text"] for r in corpus.collect()}
    queries = corpus.orderBy("doc_id").limit(3).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    idx = bm25_index(corpus, max_df_frac=0.2)
    got: dict = {}
    for r in bm25_topk(idx, queries, topk=5, k1=K1, b=B).collect():
        got.setdefault(r["query_id"], []).append(r)
    want = _py_bm25(
        texts, {d: texts[d] for d in sorted(texts)[:3]}, topk=5,
        max_df_frac=0.2,
    )
    for q in want:
        rows = sorted(got.get(q, []), key=lambda r: r["rank"])
        assert [r["doc_id"] for r in rows] == [d for d, _ in want[q]], q
    # the valve actually removed postings
    full = bm25_index(corpus)
    assert (
        idx.postings.select("term").distinct().count()
        < full.postings.select("term").distinct().count()
    )
    with pytest.raises(ValueError):
        bm25_index(corpus, max_df_frac=0.0)


def test_index_is_lazy(spark, corpus):
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    idx = bm25_index(corpus)
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after == before
    assert idx.totals.collect()[0]["n_docs"] == corpus.count()


def test_hybrid_rerank_equals_cosine_over_candidates(spark, corpus):
    """The dense stage must equal brute cosine ranking restricted to
    the BM25 candidate set (recomputed in numpy from the two stages'
    own outputs), and the output carries both stage scores."""
    import numpy as np

    from big_data_hadoop_spark.operators.bm25 import hybrid_topk
    from big_data_hadoop_spark.sources.io import load_table

    emb = load_table(spark, SF, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    queries = (
        corpus.orderBy("doc_id")
        .limit(3)
        .join(emb, "doc_id")
        .select(F.col("doc_id").alias("query_id"), "text", "embedding")
    )
    idx = bm25_index(corpus)
    cand = {
        (r["query_id"], r["doc_id"])
        for r in bm25_topk(idx, queries, topk=20).collect()
    }
    got: dict = {}
    for r in hybrid_topk(
        idx, emb, queries, topk=5, n_candidates=20
    ).collect():
        got.setdefault(r["query_id"], []).append(r)
    vecs = {r["doc_id"]: np.array(r["embedding"], float) for r in emb.collect()}
    for q, rows in got.items():
        rows.sort(key=lambda r: r["rank"])
        qv = vecs[q]
        want = sorted(
            (
                (
                    -float(qv @ vecs[d] / (np.linalg.norm(qv) * np.linalg.norm(vecs[d]))),
                    d,
                )
                for (qq, d) in cand
                if qq == q
            ),
        )[:5]
        assert [r["doc_id"] for r in rows] == [d for _, d in want], q
        for r, (negcos, _) in zip(rows, want):
            assert r["cosine"] == pytest.approx(-negcos, rel=1e-9)
            assert r["bm25_score"] > 0


def test_hybrid_zero_norm_embedding_never_ranks(spark, corpus):
    """A zero-vector corpus embedding must be EXCLUDED from the dense
    stage (cosine would be NaN, which Spark sorts above every double —
    it would otherwise take rank 1)."""
    import numpy as np

    from big_data_hadoop_spark.operators.bm25 import hybrid_topk
    from big_data_hadoop_spark.sources.io import load_table

    emb = load_table(spark, SF, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    # zero out the embedding of a doc certain to be a BM25 candidate
    # for the first query (the query doc itself)
    target = corpus.orderBy("doc_id").limit(1).collect()[0]["doc_id"]
    emb_z = emb.withColumn(
        "embedding",
        F.when(
            F.col("doc_id") == target,
            F.array_repeat(F.lit(0.0), 64),
        ).otherwise(F.col("embedding").cast("array<double>")),
    )
    queries = (
        corpus.orderBy("doc_id")
        .limit(1)
        .join(emb, "doc_id")  # query keeps its REAL embedding
        .select(F.col("doc_id").alias("query_id"), "text", "embedding")
    )
    rows = hybrid_topk(
        bm25_index(corpus), emb_z, queries, topk=10, n_candidates=20
    ).collect()
    assert rows, "query should still retrieve non-zero candidates"
    assert target not in {r["doc_id"] for r in rows}
    assert not any(np.isnan(r["cosine"]) for r in rows)


def test_scores_bit_identical_across_shuffle_layouts(spark, corpus):
    """A document's score does not depend on the order its term rows
    arrive in: two runs whose joins shuffle into different partition
    counts give scores equal by ``float.hex`` (an order-dependent float
    sum differed in its last bits from run to run)."""
    queries = corpus.orderBy("doc_id").limit(6).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    conf = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    saved = {k: spark.conf.get(k) for k in [*conf, "spark.sql.shuffle.partitions"]}
    runs = []
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        for parts in (1, 7):
            spark.conf.set("spark.sql.shuffle.partitions", str(parts))
            rows = bm25_topk(bm25_index(corpus), queries, topk=20).collect()
            runs.append(
                sorted((r["query_id"], r["doc_id"], r["score"].hex()) for r in rows)
            )
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert runs[0] and runs[0] == runs[1]
