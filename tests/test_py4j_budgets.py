"""py4j round-trip budgets for building (not running) the plans of the
calls perfbench times layer by layer, of the near-duplicate pair
operators and of the per-document text and vector signals. The
driver's fixed cost per call sits in these round trips, and unlike
construction time their count is deterministic. Each
budget is the count measured on a warm session and a 50-document
frame; a change that raises one has made plan building costlier.
``ivf_search_vectors`` has its own budget in ``test_ivf_index.py``."""

from __future__ import annotations

import pytest

from big_data_hadoop_spark.operators import similarity as sim
from big_data_hadoop_spark.operators.cooccur import pair_counts, stripes
from big_data_hadoop_spark.operators.counts import token_counts, top_k
from big_data_hadoop_spark.operators.dedup import (
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
)
from big_data_hadoop_spark.operators.repetition import (
    dup_line_frac_col,
    repetition_signals,
)
from big_data_hadoop_spark.operators.substring import (
    duplicate_spans,
    remove_duplicate_spans,
)
from big_data_hadoop_spark.operators.texthygiene import dedup_lines
from big_data_hadoop_spark.operators.textstats import (
    quality_scores,
    token_stats,
    winnow_neardup_pairs,
)
from big_data_hadoop_spark.operators.tokenize import tokenized
from big_data_hadoop_spark.pipeline import curation_gate

#: name -> (build the plan from (docs, vectors), budget in py4j calls).
#: Counts before the dot and the hyperplane planes were parsed from SQL
#: text: hyperplane_signatures 2,356, cosine_topk 444. Counts before the
#: shingles, the signature aggregate and the near-duplicate pair kernels
#: were parsed from SQL text: minhash_signatures 807, minhash_lsh_pairs
#: 1,832, ngram_jaccard_pairs 690 (prefix 1,362), winnow_neardup_pairs
#: 911, duplicate_spans 838. Counts before the last Python-lambda
#: higher-order functions were parsed from SQL text: repetition_signals
#: 9,743, curation_gate 646, dedup_lines 503, remove_duplicate_spans
#: 415, quantize_embeddings 374, quality_scores 348, grouped_centroids
#: 312, token_stats 299, dup_line_frac_col 149. Counts before
#: dedup_lines and quality_scores were parsed whole from SQL text:
#: dedup_lines 405, quality_scores 243.
BUDGETS = {
    "tokenized": (lambda d, v: tokenized(d), 15),
    "top_k_token_counts": (lambda d, v: top_k(token_counts(d), 1000), 77),
    "pair_counts_m1": (lambda d, v: pair_counts(d, m=1), 59),
    "pair_counts_m3": (lambda d, v: pair_counts(d, m=3), 59),
    "stripes_m2": (lambda d, v: stripes(d, m=2), 127),
    "minhash_signatures": (lambda d, v: minhash_signatures(d), 31),
    "minhash_lsh_pairs": (lambda d, v: minhash_lsh_pairs(d), 198),
    "ngram_jaccard_pairs": (lambda d, v: ngram_jaccard_pairs(d), 125),
    "ngram_jaccard_pairs_prefix": (
        lambda d, v: ngram_jaccard_pairs(d, method="prefix"), 217
    ),
    "winnow_neardup_pairs": (lambda d, v: winnow_neardup_pairs(d), 149),
    "duplicate_spans": (lambda d, v: duplicate_spans(d), 64),
    "hyperplane_signatures": (
        lambda d, v: sim.hyperplane_signatures(v, dim=4, num_planes=16), 16
    ),
    "cosine_topk": (lambda d, v: sim.cosine_topk(v, [1, 2], k=5), 346),
    "repetition_signals": (lambda d, v: repetition_signals(d), 126),
    "curation_gate": (lambda d, v: d.where(curation_gate()), 174),
    "dedup_lines": (lambda d, v: dedup_lines(d), 108),
    "remove_duplicate_spans": (
        lambda d, v: remove_duplicate_spans(d, k=10), 89
    ),
    "quantize_embeddings": (lambda d, v: sim.quantize_embeddings(v), 16),
    "quality_scores": (lambda d, v: quality_scores(d), 9),
    "grouped_centroids": (
        lambda d, v: sim.grouped_centroids(v, group_col="vec_id"), 70
    ),
    "token_stats": (lambda d, v: token_stats(d), 196),
    "dup_line_frac_col": (lambda d, v: d.select(dup_line_frac_col()), 9),
}


@pytest.fixture(scope="module")
def frames(spark):
    docs = spark.createDataFrame(
        [(i, f"doc {i} the cat sat on mat {i % 7} word{i % 5}") for i in range(50)],
        "doc_id long, text string",
    )
    vectors = spark.createDataFrame(
        [(i, [float((i * j) % 11) - 5.0 for j in range(1, 5)]) for i in range(50)],
        "vec_id long, embedding array<double>",
    )
    return docs, vectors


@pytest.mark.parametrize("name", sorted(BUDGETS))
def test_plan_building_stays_inside_its_py4j_budget(frames, py4j_calls, name):
    build, budget = BUDGETS[name]
    build(*frames)  # warm
    with py4j_calls() as n:
        build(*frames)
    assert n[0] <= budget, n[0]
