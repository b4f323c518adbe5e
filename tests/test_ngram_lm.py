"""Value oracle for ``operators.ngram_lm`` (CCNet-style bigram-LM
perplexity scoring): train and score are recomputed in pure Python with
the identical token contract and smoothing formula; Spark must agree to
float-sum reordering tolerance (the per-document mean sums in ascending
order, so Spark's own runs agree bit for bit).
"""

from __future__ import annotations

import math
from collections import Counter

import pytest

from big_data_hadoop_spark.operators.ngram_lm import (
    ngram_lm_score,
    ngram_lm_train,
    ppl_filter,
)
from big_data_hadoop_spark.sources.io import load_table

SF_SMOKE = "/root/testdata/sf0.001"
LAM = 0.8


def _toks(text: str) -> list[str]:
    return [t for t in text.lower().split(" ") if t != ""]


def _py_train(texts):
    c1: Counter = Counter()
    c2: Counter = Counter()
    for t in texts:
        toks = _toks(t)
        c1.update(toks)
        c2.update(zip(toks, toks[1:]))
    n = sum(c1.values())
    v = len(c1)
    return c1, c2, n, v


def _py_score(text, c1, c2, n, v, lam=LAM):
    toks = _toks(text)
    events = list(zip(toks, toks[1:]))
    if not events:
        return 0, None, None
    acc = 0.0
    for w1, w2 in events:
        p_ml = c2[(w1, w2)] / c1[w1] if (w1, w2) in c2 and w1 in c1 else 0.0
        p_uni = (c1.get(w2, 0) + 1.0) / (n + v)
        acc += -math.log(lam * p_ml + (1.0 - lam) * p_uni)
    avg = acc / len(events)
    return len(events), avg, math.exp(avg)


@pytest.fixture(scope="module")
def corpus(spark):
    docs = (
        load_table(spark, SF_SMOKE, "documents").select("doc_id", "text").cache()
    )
    ref = docs.filter("doc_id % 2 = 0")
    return docs, ref


def test_scores_match_python(spark, corpus):
    docs, ref = corpus
    lm = ngram_lm_train(ref)
    got = {
        r["doc_id"]: (r["n_bigrams"], r["avg_nll"], r["ppl"])
        for r in ngram_lm_score(docs, lm, lam=LAM).collect()
    }
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    c1, c2, n, v = _py_train(
        [t for d, t in texts.items() if d % 2 == 0]
    )
    assert set(got) == set(texts)
    for doc_id, text in texts.items():
        nb, avg, ppl = _py_score(text, c1, c2, n, v)
        g_nb, g_avg, g_ppl = got[doc_id]
        assert g_nb == nb, doc_id
        if avg is None:
            assert g_avg is None and g_ppl is None, doc_id
        else:
            assert g_avg == pytest.approx(avg, rel=1e-9), doc_id
            assert g_ppl == pytest.approx(ppl, rel=1e-9), doc_id


def test_scores_bit_identical_across_shuffle_layouts(spark, corpus):
    """A document's mean does not depend on the order its bigram rows
    arrive in: two runs whose joins shuffle into different partition
    counts give ``avg_nll`` equal by ``float.hex`` (an order-dependent
    mean differed in its last bit from run to run)."""
    docs, ref = corpus
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
            rows = ngram_lm_score(docs, ngram_lm_train(ref), lam=LAM).collect()
            runs.append(sorted(
                (r["doc_id"], r["n_bigrams"], r["avg_nll"] and r["avg_nll"].hex())
                for r in rows
            ))
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert runs[0] and runs[0] == runs[1]


def test_short_and_oov_docs(spark):
    ref = spark.createDataFrame(
        [(0, "the cat sat on the mat"), (1, "the dog sat")],
        "doc_id long, text string",
    )
    lm = ngram_lm_train(ref)
    docs = spark.createDataFrame(
        [
            (10, ""),          # no tokens
            (11, "solo"),      # one token -> no events
            (12, "   "),       # empties dropped -> no events
            (13, "zz qq"),     # fully OOV bigram: unigram floor only
            (14, "the cat"),   # in-vocab seen bigram
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_bigrams"], r["ppl"])
        for r in ngram_lm_score(docs, lm, lam=LAM).collect()
    }
    for d in (10, 11, 12):
        assert got[d] == (0, None), d
    n, v = 9, 6  # 9 reference tokens, 6 distinct
    floor = -math.log((1 - LAM) * 1.0 / (n + v))
    assert got[13][0] == 1
    assert got[13][1] == pytest.approx(math.exp(floor), rel=1e-12)
    # the seen bigram must score strictly better than the OOV floor
    assert got[14][1] < got[13][1]


def test_ppl_filter_keeps_best_slice(spark, corpus):
    docs, ref = corpus
    lm = ngram_lm_train(ref)
    scored = {
        r["doc_id"]: r["ppl"]
        for r in ngram_lm_score(docs, lm, lam=LAM).collect()
        if r["ppl"] is not None
    }
    kept = ppl_filter(docs, lm, keep_frac=1 / 3, lam=LAM)
    kept_ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    assert 0 < len(kept_ids) < len(scored)
    # every kept doc beats (<=) every dropped doc's perplexity
    worst_kept = max(scored[d] for d in kept_ids)
    best_dropped = min(
        scored[d] for d in set(scored) - kept_ids
    )
    assert worst_kept <= best_dropped
    # survivors keep the full document row plus the score columns
    assert {"doc_id", "text", "ppl", "avg_nll", "n_bigrams"} <= set(kept.columns)


def test_parameter_validation(spark, corpus):
    docs, ref = corpus
    lm = ngram_lm_train(ref)
    with pytest.raises(ValueError):
        ngram_lm_score(docs, lm, lam=1.5)
    with pytest.raises(ValueError):
        ppl_filter(docs, lm, keep_frac=0.0)


def test_model_tables_are_lazy_dataframes(spark, corpus):
    """Fit-once serve-many: training must not trigger any job — the
    model is three lazy frames the caller may persist."""
    docs, ref = corpus
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    lm = ngram_lm_train(ref)
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after == before
    assert lm.totals.collect()[0]["vocab"] > 0
