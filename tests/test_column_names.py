"""Caller-supplied column names reach SQL quoted: an id, group or query
column whose name holds a backtick or a dot gives exactly the rows a
plain one does — in the ranked operators (``cap_per_group``,
``pq_search``, ``pq_refine``, ``bm25_topk``, ``cosine_topk``, exact,
LSH, IVF and IVF-PQ search, ``hybrid_topk``), the exact and semantic
cosine pairs, the embedding quantizer and centroids, the near-duplicate
pair operators, the per-document text signals, the near-dup graph
store, the graph operators and connected components, exact dedup,
SimHash pairs, sequence packing, the curation funnel, the recall
audit, the bigram LM scores, chunking, sampling, edit-distance pairs
and URL extraction. Unquoted, a backtick fails to parse
(``INVALID_ATTRIBUTE_NAME_SYNTAX``) and a dot is read as struct access
(``UNRESOLVED_COLUMN``)."""

from __future__ import annotations

import pytest

from big_data_hadoop_spark.operators import dedup, pq
from big_data_hadoop_spark.operators import similarity as sim
from big_data_hadoop_spark.operators.bm25 import bm25_index, bm25_topk, hybrid_topk
from big_data_hadoop_spark.operators.graph import (
    bfs_distances,
    copurchase_edges,
    k_core,
    label_propagation,
    pagerank,
    triangle_count,
)
from big_data_hadoop_spark.operators.neardup_graph import (
    neardup_graph_build,
    neardup_graph_load,
)
from big_data_hadoop_spark.operators.ngram_lm import (
    ngram_lm_score,
    ngram_lm_train,
    ppl_filter,
)
from big_data_hadoop_spark.operators.repetition import repetition_signals
from big_data_hadoop_spark.operators.substring import duplicate_spans
from big_data_hadoop_spark.operators.texthygiene import (
    dedup_lines,
    domain_counts,
    extract_urls,
)
from big_data_hadoop_spark.operators.textstats import (
    token_stats,
    winnow_neardup_pairs,
)
from big_data_hadoop_spark.pipeline import (
    cap_per_group,
    chunk_documents,
    curate_training_data,
    materialize_packs,
    pack_sequences,
    sample_fraction,
)

ODD_KEYS = ["doc `id`", "doc.id"]


def _q(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _frames(spark, key: str, query: str, group: str):
    docs = spark.createDataFrame(
        [
            (i, f"w{i % 3} w{i % 5} w{i % 7} common", f"g{i % 3}",
             [float((i * j) % 7) - 3.0 for j in range(1, 5)])
            for i in range(40)
        ],
        f"{_q(key)} long, text string, {_q(group)} string, "
        "embedding array<double>",
    )
    queries = docs.where("text LIKE 'w1 %'").selectExpr(
        f"{_q(key)} AS {_q(query)}", "text", "embedding",
    )
    return docs, queries


def _rows(out: dict) -> dict:
    return {
        name: sorted(
            tuple(v.hex() if isinstance(v, float) else v for v in r)
            for r in df.collect()
        )
        for name, df in out.items()
    }


def _ranked(spark, key: str, query: str, group: str) -> dict:
    docs, queries = _frames(spark, key, query, group)
    cb = pq.pq_train(docs.toDF("vec_id", "text", "g", "embedding"),
                     dim=4, m=2, k=4, seed=3)
    codes = pq.pq_encode(docs, cb, id_col=key)
    bm25 = bm25_index(docs, id_col=key)
    ivf = sim.ivf_build(docs, n_cells=4, id_col=key)
    ivfpq = pq.ivfpq_build(docs, dim=4, n_cells=2, m=2, k=4, id_col=key)
    shortlist = pq.pq_search(
        codes, cb, queries, topk=5, id_col=key, query_id_col=query
    )
    return _rows({
        "cap_per_group": cap_per_group(docs, group_col=group, cap=5, id_col=key),
        "pq_search": pq.pq_search(
            codes, cb, queries, topk=3, id_col=key, query_id_col=query
        ),
        "bm25_topk": bm25_topk(bm25, queries, topk=3, query_id_col=query),
        "cosine_topk": sim.cosine_topk(docs, [1, 2, 3], k=3, id_col=key),
        "cosine_topk_dim": sim.cosine_topk(
            docs, [1, 2, 3], k=3, id_col=key, dim=4
        ),
        "cosine_neardup_pairs": sim.cosine_neardup_pairs(
            docs, threshold=0.9, id_col=key
        ),
        "cosine_neardup_pairs_dim": sim.cosine_neardup_pairs(
            docs, threshold=0.9, id_col=key, dim=4
        ),
        "ivf_search": sim.ivf_search(ivf, [1, 2, 3], k=3, n_probe=2),
        "ivf_search_vectors": sim.ivf_search_vectors(
            ivf, queries, k=3, n_probe=2, id_col=query
        ),
        "hybrid_topk": hybrid_topk(
            bm25, docs, queries, topk=3, n_candidates=10,
            query_id_col=query,
        ),
        "ivfpq_search": pq.ivfpq_search(
            ivfpq, queries, topk=3, n_probe=2, query_id_col=query
        ),
        "pq_refine": pq.pq_refine(
            shortlist, docs, queries, topk=3, id_col=key, query_id_col=query
        ),
        "cosine_topk_vectors": sim.cosine_topk_vectors(
            docs, queries, k=3, id_col=key, query_id_col=query
        ),
        "lsh_bucketed_topk": sim.lsh_bucketed_topk(
            docs, [1, 2, 3], k=3, dim=4, num_planes=2, id_col=key
        ),
        "semantic_neardup_pairs": sim.semantic_neardup_pairs(
            docs, eps=0.9, index=ivf, id_col=key
        ),
        "semantic_neardup_pairs_dim": sim.semantic_neardup_pairs(
            docs, eps=0.9, index=ivf, id_col=key, dim=4
        ),
        "quantize_embeddings": sim.quantize_embeddings(docs, id_col=key),
        "grouped_centroids": sim.grouped_centroids(docs, group_col=group),
    })


@pytest.fixture(scope="module")
def plain_ranked(spark):
    return _ranked(spark, "doc_id", "query_id", "grp")


@pytest.mark.parametrize("key", ODD_KEYS)
def test_odd_column_names_rank_like_plain_ones(spark, plain_ranked, key):
    odd = _ranked(spark, key, f"query {key}", f"{key} group")
    for name, rows in plain_ranked.items():
        assert rows, name
        assert odd[name] == rows, name


def _pair_docs(spark, key: str):
    """Groups of three documents that differ in their last word, plus a
    line repeated across groups."""
    return spark.createDataFrame(
        [
            (i, " ".join(f"w{i // 3 * 10 + j}" for j in range(12))
             + f" tail{i % 3} shared boilerplate line number {i // 9}")
            for i in range(30)
        ],
        f"{_q(key)} long, text string",
    )


def _pairs(spark, key: str) -> dict:
    docs = _pair_docs(spark, key)
    return _rows({
        "ngram_jaccard_pairs": dedup.ngram_jaccard_pairs(
            docs, threshold=0.5, id_col=key
        ),
        "ngram_jaccard_pairs_prefix": dedup.ngram_jaccard_pairs(
            docs, threshold=0.5, id_col=key, method="prefix"
        ),
        "minhash_lsh_pairs": dedup.minhash_lsh_pairs(
            docs, threshold=0.5, id_col=key
        ),
        "winnow_neardup_pairs": winnow_neardup_pairs(
            docs, threshold=0.5, id_col=key
        ),
        "duplicate_spans": duplicate_spans(docs, k=20, id_col=key),
        "repetition_signals": repetition_signals(docs, id_col=key),
        "dedup_lines": dedup_lines(docs, id_col=key),
        "token_stats": token_stats(docs, id_col=key),
    })


@pytest.fixture(scope="module")
def plain_pairs(spark):
    return _pairs(spark, "doc_id")


@pytest.mark.parametrize("key", ODD_KEYS)
def test_odd_column_names_pair_like_plain_ones(spark, plain_pairs, key):
    odd = _pairs(spark, key)
    for name, rows in plain_pairs.items():
        assert rows, name
        assert odd[name] == rows, name


@pytest.mark.parametrize("key", ODD_KEYS)
def test_odd_column_names_build_a_neardup_graph_like_plain_ones(
    spark, tmp_path, key
):
    def build(name: str, path: str):
        stats = neardup_graph_build(
            spark, _pair_docs(spark, name), path, threshold=0.5, id_col=name
        )
        return stats, _rows({"edges": neardup_graph_load(spark, path)})

    odd = build(key, str(tmp_path / "odd"))
    plain = build("doc_id", str(tmp_path / "plain"))
    assert plain[0]["new_edges"] > 0
    assert odd == plain


def _graph(spark, key: str) -> dict:
    """Every graph operator over one pair frame whose id and weight
    columns are named after ``key`` (a duplicate row, a reversed row, a
    self-loop and a half-NULL pair included)."""
    a, b, w, item = f"{key} a", f"{key} b", f"{key} w", f"{key} item"
    pairs = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 2.0), (1, 3, 1.0), (3, 4, 0.5), (4, 5, 1.0),
         (5, 3, 1.5), (5, 5, 1.0), (6, None, 1.0), (2, 1, 1.0)],
        f"{_q(a)} long, {_q(b)} long, {_q(w)} double",
    )
    baskets = spark.createDataFrame(
        [(i // 4, i % 5) for i in range(20)], f"{_q(key)} long, {_q(item)} long"
    )
    ids = {"id_a": a, "id_b": b}

    def ranked(**kw):
        out = pagerank(pairs, max_iter=3, **ids, **kw)
        return out.selectExpr("id", "round(rank, 12) AS rank")

    return _rows({
        "pagerank": ranked(),
        "pagerank_weighted": ranked(weight_col=w),
        "pagerank_directed": ranked(directed=True),
        "k_core": k_core(pairs, 2, **ids),
        "k_core_weighted": k_core(pairs, 2.0, weight_col=w, **ids),
        "label_propagation": label_propagation(pairs, max_iter=3, **ids),
        "label_propagation_weighted": label_propagation(
            pairs, max_iter=3, weight_col=w, **ids
        ),
        "bfs_distances": bfs_distances(pairs, [1], **ids),
        "bfs_distances_directed": bfs_distances(
            pairs, [1], directed=True, **ids
        ),
        "triangle_count": triangle_count(pairs, **ids),
        "copurchase_edges": copurchase_edges(baskets, key, item),
        "duplicate_clusters": dedup.duplicate_clusters(pairs, **ids),
    })


@pytest.fixture(scope="module")
def plain_graph(spark):
    return _graph(spark, "doc_id")


@pytest.mark.parametrize("key", ODD_KEYS)
def test_odd_column_names_graph_like_plain_ones(spark, plain_graph, key):
    odd = _graph(spark, key)
    for name, rows in plain_graph.items():
        assert rows, name
        assert odd[name] == rows, name


def _curation(spark, key: str) -> dict:
    """Exact dedup, SimHash pairs, packing, the curation funnel and the
    recall audit with the id column named ``key``: English documents in
    near-duplicate groups of three, each also present as an exact copy
    under another id."""
    docs = spark.createDataFrame(
        [
            (i, "the " + " ".join(f"w{i // 3 * 10 + j}" for j in range(12))
             + f" and the tail{i % 3} of the shared line {i // 9}")
            for i in range(30)
        ],
        f"{_q(key)} long, text string",
    )
    docs = docs.unionByName(
        docs.selectExpr(f"{_q(key)} + 100 AS {_q(key)}", "text")
    )
    query, neighbor = f"query {key}", f"{key} neighbor"
    exact = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (2, 4)], f"{_q(query)} long, {_q(neighbor)} long"
    )
    approx = spark.createDataFrame(
        [(1, 2), (2, 4), (2, 5)], f"{_q(query)} long, {_q(neighbor)} long"
    )
    per_query, summary = sim.topk_recall_audit(
        exact, approx, query_col=query, neighbor_col=neighbor
    )
    out = _rows({
        "exact_dedup": dedup.exact_dedup(docs, id_col=key),
        "simhash_neardup_pairs": dedup.simhash_neardup_pairs(
            docs, id_col=key
        ),
        "pack_sequences": pack_sequences(docs, 40, id_col=key),
        "materialize_packs": materialize_packs(docs, 40, id_col=key),
        "curate_training_data": curate_training_data(
            docs, id_col=key, neardup_threshold=0.5
        ),
        "curate_training_data_cluster": curate_training_data(
            docs, id_col=key, neardup_threshold=0.5, neardup_mode="cluster"
        ),
        "topk_recall_audit": per_query,
    })
    out["topk_recall_audit_summary"] = sorted(summary.items())
    return out


@pytest.fixture(scope="module")
def plain_curation(spark):
    return _curation(spark, "doc_id")


@pytest.mark.parametrize("key", ODD_KEYS)
def test_odd_column_names_curate_like_plain_ones(spark, plain_curation, key):
    odd = _curation(spark, key)
    for name, rows in plain_curation.items():
        assert rows, name
        assert odd[name] == rows, name


#: Per-document text operators, each ``(docs, key) -> DataFrame``.
_TEXT_OPS = {
    "ngram_lm_score": lambda docs, key: ngram_lm_score(
        docs, ngram_lm_train(docs), id_col=key
    ),
    "ppl_filter": lambda docs, key: ppl_filter(
        docs, ngram_lm_train(docs), keep_frac=0.5, id_col=key
    ),
    "chunk_documents": lambda docs, key: chunk_documents(
        docs, 4, overlap=1, id_col=key
    ),
    "sample_fraction": lambda docs, key: sample_fraction(
        docs, 0.5, id_col=key
    ),
    "edit_distance_pairs": lambda docs, key: dedup.edit_distance_pairs(
        docs, max_dist=2, id_col=key
    ),
    "extract_urls": lambda docs, key: extract_urls(docs, id_col=key),
    "domain_counts": lambda docs, key: domain_counts(docs, id_col=key),
}


def _text(spark, key: str, op: str) -> list:
    """The ``op`` rows over documents that link to three sites and
    differ pairwise by a few characters, id column named ``key``."""
    docs = spark.createDataFrame(
        [
            (i, f"see https://ex{i % 3}.org/p{i} w{i % 4} w{i % 5} tail{i % 2}")
            for i in range(24)
        ],
        f"{_q(key)} long, text string",
    )
    return _rows({op: _TEXT_OPS[op](docs, key)})[op]


@pytest.fixture(scope="module")
def plain_text(spark):
    return {op: _text(spark, "doc_id", op) for op in _TEXT_OPS}


@pytest.mark.parametrize("key", ODD_KEYS)
@pytest.mark.parametrize("op", sorted(_TEXT_OPS))
def test_odd_column_names_score_chunk_and_link_like_plain_ones(
    spark, plain_text, op, key
):
    assert plain_text[op], op
    assert _text(spark, key, op) == plain_text[op], op
