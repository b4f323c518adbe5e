"""py4j round-trip budgets for building (not running) the plans of the
calls perfbench times layer by layer. The driver's fixed cost per call
sits in these round trips, and unlike construction time their count is
deterministic. Each budget is the count measured on a warm session and
a 50-document frame; a change that raises one has made plan building
costlier. ``ivf_search_vectors`` has its own budget in
``test_ivf_index.py``."""

from __future__ import annotations

import pytest

from big_data_hadoop_spark.operators import similarity as sim
from big_data_hadoop_spark.operators.cooccur import pair_counts, stripes
from big_data_hadoop_spark.operators.counts import token_counts, top_k
from big_data_hadoop_spark.operators.dedup import minhash_signatures
from big_data_hadoop_spark.operators.tokenize import tokenized

#: name -> (build the plan from (docs, vectors), budget in py4j calls).
#: Counts before the dot and the hyperplane planes were parsed from SQL
#: text: hyperplane_signatures 2,356, cosine_topk 444.
BUDGETS = {
    "tokenized": (lambda d, v: tokenized(d), 15),
    "top_k_token_counts": (lambda d, v: top_k(token_counts(d), 1000), 77),
    "pair_counts_m1": (lambda d, v: pair_counts(d, m=1), 59),
    "pair_counts_m3": (lambda d, v: pair_counts(d, m=3), 59),
    "stripes_m2": (lambda d, v: stripes(d, m=2), 127),
    "minhash_signatures": (lambda d, v: minhash_signatures(d), 807),
    "hyperplane_signatures": (
        lambda d, v: sim.hyperplane_signatures(v, dim=4, num_planes=16), 16
    ),
    "cosine_topk": (lambda d, v: sim.cosine_topk(v, [1, 2], k=5), 346),
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
