"""Golden unit tests — exact expected outputs from the reference's own
worked examples (FIXTURES.md §B; cites in SURVEY §5.1)."""

from __future__ import annotations

import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

from big_data_hadoop_spark.functions.text import NUMBER_PATTERN, WORD_PATTERN
from big_data_hadoop_spark.operators.cooccur import (
    neighbor_counts,
    pair_counts,
    stripe_entries,
    stripes,
)
from big_data_hadoop_spark.operators.counts import token_counts, top_k
from big_data_hadoop_spark.operators.tokenize import tokens


def _pairs_set(df):
    return {
        (r.category, r.left, r.right, r.cnt)
        for r in df.collect()
    }


def test_distance1_pairs_reference_example(spark, golden_lines):
    """HadoopWordPairs.java:64-65 in-source example."""
    got = _pairs_set(pair_counts(golden_lines.filter("doc_id = 0"), m=1))
    assert got == {
        ("word", "am", "in", 1),
        ("word", "group", "of", 1),
        ("number", "3", "20", 1),
        ("word", "year", "adults", 1),
        ("word", "adults", "with", 1),
    }


def test_window_pairs_m4_reference_example(spark, golden_lines):
    """HadoopWordPairs2.java:70-75: from 'i', pairs (i,study),(i,luxembourg);
    'In' dropped (case), '1' dropped (cross-category)."""
    got = _pairs_set(pair_counts(golden_lines.filter("doc_id = 1"), m=4))
    from_i = {(l, r) for _, l, r, _ in got if l == "i"}
    assert from_i == {("i", "study"), ("i", "luxembourg")}
    assert got == {
        ("word", "i", "study", 1),
        ("word", "i", "luxembourg", 1),
        ("word", "study", "luxembourg", 1),
    }


def test_stripes_cross_category_and_case(spark, golden_lines):
    """HadoopWordStripes.java:102-108: stripe(am)={i:1} on 'i am 20';
    stripe(a)={boy:1} on 'i Am a boy'."""
    st = {
        r.token: dict(r.stripe)
        for r in stripes(golden_lines.filter("doc_id in (2, 3)")).collect()
    }
    assert st["am"] == {"i": 1}
    assert st["a"] == {"boy": 1}
    assert st["20"] == {}  # number token with no same-category neighbor


def test_stripes_m1_both_directions(spark, golden_lines):
    """HadoopWordStripes2.java:55-56: stripe(am)={i:1, good:1}."""
    st = {
        r.token: dict(r.stripe)
        for r in stripes(golden_lines.filter("doc_id = 4"), m=1).collect()
    }
    assert st["am"] == {"i": 1, "good": 1}


def test_empty_stripe_preserved(spark, golden_lines):
    """HadoopWordStripes.java:100: every categorized token emits a stripe,
    empty when no same-category neighbor exists."""
    st = stripes(golden_lines.filter("doc_id = 10"))
    rows = st.collect()
    assert len(rows) == 1 and rows[0].token == "solo" and dict(rows[0].stripe) == {}
    assert stripes(golden_lines.filter("doc_id = 10"), keep_empty=False).count() == 0


def test_double_space_breaks_chain(spark, golden_lines):
    """SURVEY Q6: empty token occupies a position — no (foo,bar) pair."""
    got = _pairs_set(pair_counts(golden_lines.filter("doc_id = 5")))
    assert got == {("word", "bar", "baz", 1)}


def test_letterless_words_and_number_edges(spark, golden_lines):
    """SURVEY Q5 fix + P4 edges: '-','_','--','a-b_c' are words;
    '3.','+4','-5' are numbers; '3' counted separately from '3.'."""
    c = {
        (r.category, r.token): r.cnt
        for r in token_counts(golden_lines.filter("doc_id in (6, 7)")).collect()
    }
    for tok in ["-", "_", "--", "a-b_c"]:
        assert c[("word", tok)] == 1
    for tok in ["3.", "+4", "-5", "1.25", "12", "3"]:
        assert c[("number", tok)] == 1
    assert ("number", "2.5.5") not in c


def test_case_sensitivity_modes(spark, golden_lines):
    """SURVEY Q1: Hadoop jobs drop uppercase; lowercase=True (Spark-job
    parity) folds them in."""
    doc11 = golden_lines.filter("doc_id = 11")
    assert token_counts(doc11).count() == 0
    folded = {r.token for r in token_counts(doc11, lowercase=True).collect()}
    assert folded == {"a", "b", "c"}


def test_topk_deterministic_tiebreak(spark, golden_lines):
    """SURVEY Q8: equal counts ordered by token ASC."""
    c = token_counts(golden_lines.filter("doc_id = 9"))
    rows = top_k(c, 3).collect()
    assert [(r.token, r.cnt) for r in rows] == [("x", 2), ("y", 2), ("z", 2)]


def test_window_m2_pairs(spark, golden_lines):
    """FIXTURES line 10: m=2 adds distance-2 pairs to the m=1 set."""
    m1 = _pairs_set(pair_counts(golden_lines.filter("doc_id = 9"), m=1))
    m2 = _pairs_set(pair_counts(golden_lines.filter("doc_id = 9"), m=2))
    assert m1 == {
        ("word", "x", "y", 2),
        ("word", "y", "z", 2),
        ("word", "z", "x", 1),
    }
    assert m2 == {
        ("word", "x", "y", 2),
        ("word", "y", "z", 2),
        ("word", "z", "x", 1),
        ("word", "x", "z", 2),
        ("word", "y", "x", 1),
        ("word", "z", "y", 1),
    }


def test_positions_assigned_on_raw_stream(spark, golden_lines):
    """Positions count raw split slots, including non-matching tokens."""
    t = tokens(golden_lines.filter("doc_id = 0"), categorized_only=False)
    rows = {r.pos: (r.token, r.category) for r in t.collect()}
    assert rows[0] == ("I", None)
    assert rows[6] == ("3", "number")
    assert rows[12] == ("2.5.5", None)


def test_tokens_quote_column_names(spark, golden_lines):
    """Column names are rendered into SQL: spaces and backticks in them
    must survive as plain names."""
    odd = golden_lines.toDF("doc `id`", "body text")
    got = tokens(odd, text_col="body text", keep_cols=("doc `id`",))
    want = tokens(golden_lines).withColumnRenamed("doc_id", "doc `id`")
    assert got.schema == want.schema
    assert sorted(got.collect()) == sorted(want.collect())


def test_ranked_outputs_quote_column_names(spark):
    """Caller-named id and group columns reach the SQL-rendered top-k:
    a space in a name must not change a ranked operator's rows, and the
    one quoting rule keeps backticks as plain name characters."""
    from big_data_hadoop_spark.functions.rank import _quote, top_k_per
    from big_data_hadoop_spark.operators.bm25 import bm25_index, bm25_topk
    from big_data_hadoop_spark.operators.pq import pq_encode, pq_search, pq_train
    from big_data_hadoop_spark.pipeline import cap_per_group

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    vecs = [(i, [float(i % 4), float(i % 7), float(i % 3), 1.0]) for i in range(24)]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    odd_emb = emb.toDF("vec id", "embedding")
    q = emb.filter("vec_id < 3").toDF("query_id", "embedding")
    odd_q = q.toDF("query id", "embedding")
    cb = pq_train(emb, dim=4, m=2, k=4, seed=3)
    want = pq_search(pq_encode(emb, cb), cb, q, topk=4)
    got = pq_search(
        pq_encode(odd_emb, cb, id_col="vec id"), cb, odd_q, topk=4,
        id_col="vec id", query_id_col="query id",
    )
    assert rows(got) == rows(want)

    docs = spark.createDataFrame(
        [(i, f"w{i % 5} w{i % 3} x{i}", f"s{i % 3}") for i in range(30)],
        "doc_id long, text string, source string",
    )
    odd_docs = docs.toDF("doc id", "text", "src group")
    tq = docs.filter("doc_id < 4").select(
        F.col("doc_id").alias("query_id"), "text"
    )
    want = bm25_topk(bm25_index(docs), tq, topk=3)
    got = bm25_topk(
        bm25_index(odd_docs, id_col="doc id"),
        tq.toDF("query id", "text"), topk=3, query_id_col="query id",
    )
    assert rows(got) == rows(want)

    want = cap_per_group(docs, group_col="source", cap=4, seed=5)
    got = cap_per_group(
        odd_docs, group_col="src group", cap=4, id_col="doc id", seed=5
    )
    assert rows(got) == rows(want)

    ticked = docs.toDF("doc `id`", "text", "src `group`")
    want = top_k_per(docs, "source", "doc_id DESC", 2)
    got = top_k_per(ticked, "src `group`", f"{_quote('doc `id`')} DESC", 2)
    assert rows(got) == rows(want)


def _category(tok):
    for cat, pat in (("word", WORD_PATTERN), ("number", NUMBER_PATTERN)):
        if re.fullmatch(pat, tok):
            return cat
    return None


def _window_reference(texts, m, lowercase):
    """Pure-Python forward pairs, symmetric neighbors and stripes."""
    pairs, vocab = Counter(), set()
    for text in texts:
        if text is None:
            continue
        toks = (text.lower() if lowercase else text).split(" ")
        cats = [_category(t) for t in toks]
        for i, (t, c) in enumerate(zip(toks, cats)):
            if c is None:
                continue
            vocab.add((c, t))
            for j in range(i + 1, min(i + m + 1, len(toks))):
                if cats[j] == c:
                    pairs[(c, t, toks[j])] += 1
    nbrs = Counter()
    for (c, a, b), n in pairs.items():
        nbrs[(c, a, b)] += n
        nbrs[(c, b, a)] += n
    stripes_ = {key: {} for key in vocab}
    for (c, t, nb), n in nbrs.items():
        stripes_[(c, t)][nb] = n
    return pairs, nbrs, {k: (s, sum(s.values())) for k, s in stripes_.items()}


_SHORT_DOCS = [
    "x",  # one token, shorter than every window below
    "ab 7",  # two tokens, cross-category
    "a b",  # two tokens, shorter than m=5
    "",
    None,
    "!! ?? ..",  # uncategorized only
    "a  b",  # double space: an empty token holds a position
    "Q r Q",  # uppercase drops out unless lowercased
]


@pytest.mark.parametrize("lowercase", [False, True])
@pytest.mark.parametrize("m", [3, 5])
def test_short_documents_window_matches_reference(spark, m, lowercase):
    """Documents shorter than the window, empty and NULL text: every
    shifted slice clamps to length 0 instead of failing."""
    df = spark.createDataFrame(list(enumerate(_SHORT_DOCS)), "doc_id long, text string")
    pairs, nbrs, want = _window_reference(_SHORT_DOCS, m, lowercase)
    got_pairs = {
        (r.category, r.left, r.right): r.cnt
        for r in pair_counts(df, m=m, lowercase=lowercase).collect()
    }
    assert got_pairs == dict(pairs)
    got_nbrs = {
        (r.category, r.token, r.neighbor): r.cnt
        for r in neighbor_counts(df, m=m, lowercase=lowercase).collect()
    }
    assert got_nbrs == dict(nbrs)
    for keep_empty in (True, False):
        got = {
            (r.category, r.token): (dict(r.stripe), r.mass)
            for r in stripes(
                df, m=m, lowercase=lowercase, keep_empty=keep_empty
            ).collect()
        }
        assert got == {
            k: v for k, v in want.items() if keep_empty or v[0]
        }, keep_empty


def test_stripe_entries_canonical(spark, golden_lines):
    """Stripe export is key-sorted 'neighbor:cnt' entries (SURVEY Q7)."""
    st = stripe_entries(stripes(golden_lines.filter("doc_id = 4"), m=1))
    row = {r.token: list(r.stripe) for r in st.collect()}["am"]
    assert row == ["good:1", "i:1"]


def test_ivf_recall_against_exact(spark):
    """IVF with 16 cells / 4 probes must recover most exact top-5
    neighbors on the smoke embeddings (recall is the tunable; determinism
    is the contract)."""
    from big_data_hadoop_spark.operators.similarity import cosine_topk, ivf_topk
    from tests.conftest import SF_SMOKE
    from big_data_hadoop_spark.sources.io import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    qids = list(range(10))
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(emb, qids, k=5, dim=64).collect()
    }
    approx1 = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk(emb, qids, k=5, n_cells=16, n_probe=4).collect()
    }
    approx2 = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk(emb, qids, k=5, n_cells=16, n_probe=4).collect()
    }
    assert approx1 == approx2, "IVF search must be deterministic"
    recall = len(approx1 & exact) / len(exact)
    assert recall >= 0.5, f"recall {recall}"
    # full probe of every cell degrades to exact
    full = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk(emb, qids, k=5, n_cells=8, n_probe=8).collect()
    }
    assert full == exact


def test_multimodal_resize_and_frames(spark):
    """Resize and frame-sample plumbing: schemas, fan-out shape, and
    payload-boundary behavior (the codec itself is a documented stub)."""
    from big_data_hadoop_spark.operators.multimodal import (
        documents_as_media,
        resize_media,
        sample_frames,
    )
    from big_data_hadoop_spark.sources.io import load_table
    from tests.conftest import SF_SMOKE

    media = documents_as_media(load_table(spark, SF_SMOKE, "documents")).limit(20)
    resized = resize_media(media, max_dim=16).collect()
    assert len(resized) == 20
    assert all(1 <= r.width <= 16 and 1 <= r.height <= 16 for r in resized)
    assert all(len(r.payload) >= 1 for r in resized)

    frames = sample_frames(media, n_frames=4)
    assert [f.name for f in frames.schema.fields] == ["media_id", "frame_no", "frame"]
    per_media = {
        r.media_id: r.n for r in frames.groupBy("media_id").count()
        .withColumnRenamed("count", "n").collect()
    }
    assert len(per_media) == 20
    assert all(1 <= n <= 4 for n in per_media.values())


def test_minhash_permutations_are_independent(spark):
    """Regression for the monotone-permutation bug: without the mod-p
    reduction, every permutation ``a*h+b`` is increasing in ``h``, so all
    128 signature slots pick the SAME min shingle and two documents'
    signatures agree on either every slot or none. For a pair with
    Jaccard ~0.5, independent permutations must agree on SOME but not all
    slots (~64 of 128; binomial tails put 20..108 at >1-1e-13)."""
    from big_data_hadoop_spark.operators.dedup import minhash_signatures, shingles

    a = "the quick brown fox jumps over the lazy dog again and again today"
    b = "the quick brown fox jumps over the lazy cat meanwhile crows watch silently"
    df = spark.createDataFrame([(0, a), (1, b)], "doc_id long, text string")
    sh = {
        i: {r.shingle for r in shingles(df).filter(f"doc_id = {i}").collect()}
        for i in (0, 1)
    }
    jac = len(sh[0] & sh[1]) / len(sh[0] | sh[1])
    assert 0.2 < jac < 0.8, jac  # fixture sanity: a genuinely partial overlap
    sigs = {r.doc_id: r.sig for r in minhash_signatures(df).collect()}
    agree = sum(x == y for x, y in zip(sigs[0], sigs[1]))
    assert 20 <= agree <= 108, (
        f"{agree}/128 slots agree — all-or-nothing agreement means the "
        "permutations are monotone transforms of one another"
    )


def test_simhash_neardup_matches_bruteforce(spark):
    """Banded simhash pairing must equal the brute-force Hamming scan."""
    from big_data_hadoop_spark.operators.dedup import simhash, simhash_neardup_pairs
    from big_data_hadoop_spark.sources.io import load_table
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    fps = {r.doc_id: r.simhash for r in simhash(docs).collect()}
    ids = sorted(fps)
    expect = {
        (a, b, bin((fps[a] ^ fps[b]) & ((1 << 64) - 1)).count("1"))
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin((fps[a] ^ fps[b]) & ((1 << 64) - 1)).count("1") <= 3
    }
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_neardup_pairs(docs, max_hamming=3).collect()
    }
    assert got == expect


def test_winnow_matches_python_reference(spark):
    """Winnowing must equal a direct Python implementation of the MOSS
    algorithm (Spark supplies xxhash64; windowing redone in Python)."""
    from pyspark.sql import functions as F

    from big_data_hadoop_spark.operators.textstats import winnow_fingerprints

    line = "The quick brown fox jumps over the lazy dog"
    k, w = 5, 4
    text = line.lower()
    grams = [text[i : i + k] for i in range(len(text) - k + 1)]
    hdf = spark.createDataFrame([(g,) for g in grams], "g string").select(
        F.xxhash64("g").alias("h")
    )
    hashes = [r.h for r in hdf.collect()]
    expect = {
        min(hashes[i : i + w]) for i in range(len(hashes) - w + 1)
    }
    df = spark.createDataFrame([(0, line)], "doc_id long, text string")
    got = {r.fp for r in winnow_fingerprints(df, k=k, w=w).collect()}
    assert got == expect


def test_ewm_matches_pandas(spark):
    """The mapInPandas EWM must equal pandas ewm computed directly on
    the collected group (same alpha, same ordering), AND equal the
    grouped-map applyInPandas form it replaced (one Arrow round-trip per
    partition vs per group — same recurrence, ~3x faster at sf0.1)."""
    import pandas as pd

    from big_data_hadoop_spark.probes import q56_ewm
    from big_data_hadoop_spark.sources.io import load_table
    from tests.conftest import SF_SMOKE

    got = {r.event_id: r.ewm_value for r in q56_ewm(spark, SF_SMOKE).collect()}
    ev = (
        load_table(spark, SF_SMOKE, "events")
        .select("user_id", "event_id", "ts", "value")
        .toPandas()
    )
    for uid, grp in ev.groupby("user_id"):
        grp = grp.sort_values(["ts", "event_id"])
        expect = grp["value"].ewm(alpha=0.3, adjust=False).mean()
        for eid, val in zip(grp["event_id"], expect):
            assert got[eid] == val, (uid, eid)

    def grouped_map(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"])
        return pd.DataFrame(
            {
                "event_id": pdf["event_id"],
                "ewm_value": pdf["value"].ewm(alpha=0.3, adjust=False).mean(),
            }
        )

    via_apply = {
        r.event_id: r.ewm_value
        for r in load_table(spark, SF_SMOKE, "events")
        .select("user_id", "event_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandas(grouped_map, schema="event_id long, ewm_value double")
        .collect()
    }
    assert via_apply == got


def test_ppjoin_positional_filter_exact_and_pruning(spark):
    """VERDICT r2 #4: the positional filter must not change results
    (methods stay output-identical on real data at sf0.01) while
    shrinking the candidate set on a high-overlap corpus."""
    from big_data_hadoop_spark.operators.dedup import (
        _ppjoin_candidates,
        ngram_jaccard_pairs,
        shingles,
    )
    from big_data_hadoop_spark.sources.io import load_table
    from tests.conftest import SF_ORACLE

    docs = load_table(spark, SF_ORACLE, "documents")
    t = 0.8
    inv = {
        (r.id_a, r.id_b, round(r.jac, 12))
        for r in ngram_jaccard_pairs(docs, n=3, threshold=t).collect()
    }
    pre = {
        (r.id_a, r.id_b, round(r.jac, 12))
        for r in ngram_jaccard_pairs(
            docs, n=3, threshold=t, method="prefix"
        ).collect()
    }
    assert inv == pre

    # Pruning fixture: each doc pair shares exactly ONE word, and that
    # word (df=2) sorts to the END of the rarest-first order, landing at
    # the edge of each prefix. There the achievable-overlap bound is
    # 1 + (sz - rk) = ceil(t*sz), which is < ceil(t/(1+t)*2sz) for every
    # t < 1 — so the positional filter must reject what prefix+size
    # filtering alone admits (the pairs are false candidates: true
    # Jaccard is 1/17 < t, so output equality is preserved trivially,
    # asserted via the inverted method below).
    t_lo = 0.1
    rows = []
    for p in range(6):
        for s in range(2):
            words = [f"u{p}_{s}_{k}" for k in range(8)] + [f"shared{p}"]
            rows.append((p * 2 + s, " ".join(words)))
    hi = spark.createDataFrame(rows, "doc_id long, text string")
    sh = shingles(hi, n=1)
    n_with = _ppjoin_candidates(sh, t_lo, "doc_id", positional=True).count()
    n_without = _ppjoin_candidates(sh, t_lo, "doc_id", positional=False).count()
    assert n_without == 6, n_without  # one candidate per partner pair
    assert n_with == 0, n_with  # all pruned by the positional bound
    got = {
        (r.id_a, r.id_b, round(r.jac, 12))
        for r in ngram_jaccard_pairs(
            hi, n=1, threshold=t_lo, method="prefix"
        ).collect()
    }
    exp = {
        (r.id_a, r.id_b, round(r.jac, 12))
        for r in ngram_jaccard_pairs(hi, n=1, threshold=t_lo).collect()
    }
    assert got == exp == set()
