"""Property-based tests (SURVEY §5.2.3) — invariants over random token
streams, one shared SparkSession."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from big_data_hadoop_spark.operators.cooccur import (
    neighbor_counts,
    pair_counts,
    stripes,
)
from big_data_hadoop_spark.operators.counts import token_counts, top_k

# Small alphabet → dense collisions; includes uppercase (dropped), numbers,
# non-matching tokens, and empties (via double spaces when joined).
TOKENS = ["a", "b", "ab", "B", "3", "42", "3.", "x!", ""]

lines_strategy = st.lists(
    st.lists(st.sampled_from(TOKENS), min_size=0, max_size=12).map(" ".join),
    min_size=1,
    max_size=6,
)

_SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _df(spark, lines):
    return spark.createDataFrame(
        list(enumerate(lines)), "doc_id long, text string"
    )


@given(lines=lines_strategy)
@_SETTINGS
def test_pairs_m1_equals_stripes_flattened(spark, lines):
    """stripes(m=1) edge multiset == union of forward pairs + reversed."""
    df = _df(spark, lines)
    p = {
        (r.left, r.right): r.cnt for r in pair_counts(df, m=1).collect()
    }
    nb = {
        (r.token, r.neighbor): r.cnt
        for r in neighbor_counts(df, m=1).collect()
    }
    expect: dict[tuple[str, str], int] = {}
    for (l, r), c in p.items():
        expect[(l, r)] = expect.get((l, r), 0) + c
        expect[(r, l)] = expect.get((r, l), 0) + c
    assert nb == expect


@given(lines=lines_strategy, m=st.integers(min_value=1, max_value=4))
@_SETTINGS
def test_window_m_is_union_of_distances(spark, lines, m):
    """pairs(m) == sum over d in 1..m of distance-d pair counts."""
    df = _df(spark, lines)
    got = {
        (r.left, r.right): r.cnt for r in pair_counts(df, m=m).collect()
    }
    expect: dict[tuple[str, str], int] = {}
    for d in range(1, m + 1):
        from big_data_hadoop_spark.operators.cooccur import _cooccur_counts

        for r in _cooccur_counts(df, [d]).collect():
            k = (r.left, r.right)
            expect[k] = expect.get(k, 0) + r.cnt
    assert got == expect


@given(lines=lines_strategy)
@_SETTINGS
def test_stripe_mass_equals_pair_mass(spark, lines):
    """Total stripe mass == 2 × total forward-pair count (each edge counted
    from both endpoints)."""
    df = _df(spark, lines)
    pair_total = sum(r.cnt for r in pair_counts(df, m=1).collect())
    mass_total = sum(r.mass for r in stripes(df, m=1).collect())
    assert mass_total == 2 * pair_total


@given(lines=lines_strategy)
@_SETTINGS
def test_topk_is_prefix_of_full_sort(spark, lines):
    df = _df(spark, lines)
    c = token_counts(df)
    full = [
        (r.token, r.cnt)
        for r in c.orderBy(c.cnt.desc(), c.token.asc()).collect()
    ]
    k = 3
    assert [(r.token, r.cnt) for r in top_k(c, k).collect()] == full[:k]


@given(lines=lines_strategy)
@_SETTINGS
def test_categories_disjoint_cover(spark, lines):
    """Each categorized token is word xor number; counts per category sum
    to the total."""
    df = _df(spark, lines)
    rows = token_counts(df).collect()
    assert all(r.category in ("word", "number") for r in rows)
    by_tok: dict[str, set[str]] = {}
    for r in rows:
        by_tok.setdefault(r.token, set()).add(r.category)
    assert all(len(cats) == 1 for cats in by_tok.values())


@given(lines=lines_strategy)
@_SETTINGS
def test_salted_counts_equal_plain(spark, lines):
    """Two-level salted aggregation is a pure physical rewrite: results
    identical to the plain groupBy for any input."""
    from big_data_hadoop_spark.operators.counts import salted_token_counts

    df = _df(spark, lines)
    plain = {
        (r.category, r.token): r.cnt for r in token_counts(df).collect()
    }
    salted = {
        (r.category, r.token): r.cnt
        for r in salted_token_counts(df, salt_buckets=4).collect()
    }
    assert plain == salted


def test_salted_join_equals_plain_join(spark):
    """Static key salting is a pure physical rewrite: inner and left
    results equal the plain join, including unmatched-left rows and
    duplicate-key multiplicity."""
    from big_data_hadoop_spark.operators.relational import salted_join
    from big_data_hadoop_spark.sources.io import load_table
    from tests.conftest import SF_SMOKE

    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    # skew fixture: many rows per customer + customers with no orders
    cust = load_table(spark, SF_SMOKE, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    for how in ("inner", "left"):
        plain = sorted(
            tuple(r)
            for r in orders.join(
                cust, orders.o_custkey == cust.c_custkey, how
            )
            .drop("c_custkey")
            .collect()
        )
        salted = sorted(
            tuple(r)
            for r in salted_join(
                orders.withColumnRenamed("o_custkey", "c_custkey"),
                cust,
                on=["c_custkey"],
                salt_buckets=4,
                how=how,
            )
            .withColumnRenamed("c_custkey", "o_custkey")
            .select("o_orderkey", "o_custkey", "o_totalprice", "c_mktsegment")
            .collect()
        )
        assert plain == salted, how


def test_salted_join_rejects_existing_salt_column(spark):
    """ADVICE r2: a pre-existing _salt column would be silently clobbered
    (skewed side) or ambiguous (other side) — both must raise."""
    import pytest as _pytest

    from big_data_hadoop_spark.operators.relational import salted_join

    clean = spark.range(5).withColumnRenamed("id", "k")
    tainted = clean.withColumn("_salt", F.lit(0))
    with _pytest.raises(ValueError, match="_salt"):
        salted_join(tainted, clean, on=["k"])
    with _pytest.raises(ValueError, match="_salt"):
        salted_join(clean, tainted, on=["k"])


pack_corpus_strategy = st.lists(
    st.lists(st.sampled_from(TOKENS), min_size=0, max_size=30).map(" ".join),
    min_size=1,
    max_size=12,
)


@given(lines=pack_corpus_strategy, ctx=st.integers(min_value=1, max_value=40))
@_SETTINGS
def test_materialize_packs_equals_python_greedy(spark, lines, ctx):
    """Random corpora × random context sizes: the materialized packs must
    equal the sequential Python greedy fill — membership, payload bytes,
    truncation bookkeeping — including docs longer than the window and
    whole pack ranges swallowed by overflow."""
    from big_data_hadoop_spark.pipeline import materialize_packs

    n_buckets = 8
    df = _df(spark, lines)
    rows = df.select(
        "doc_id", "text", F.xxhash64("doc_id").alias("h")
    ).collect()
    order = sorted(rows, key=lambda r: (r.h % n_buckets, r.h, r.doc_id))
    expect: dict[int, dict] = {}
    running = 0
    for r in order:
        toks = r.text.split(" ")
        pid, off = running // ctx, running % ctx
        kept = min(len(toks), ctx - off)
        p = expect.setdefault(pid, {"ids": [], "toks": [], "cut": 0})
        p["ids"].append(r.doc_id)
        p["toks"].extend(toks[:kept])
        p["cut"] += len(toks) - kept
        running += len(toks)
    got = {
        r.pack_id: r
        for r in materialize_packs(df, ctx, n_buckets=n_buckets).collect()
    }
    assert set(got) == set(expect)
    for pid, e in expect.items():
        g = got[pid]
        assert list(g.doc_ids) == e["ids"]
        assert g.payload == " ".join(e["toks"])
        assert g.n_truncated == e["cut"]
        assert g.token_count == len(e["toks"])


winnow_corpus_strategy = st.lists(
    st.text(alphabet="ab c", min_size=0, max_size=24),
    min_size=2,
    max_size=6,
)


@given(texts=winnow_corpus_strategy)
@_SETTINGS
def test_winnow_pairs_equal_python_reference(spark, texts):
    """Random tiny-alphabet corpora (dense gram collisions): the pair
    operator must equal a Python winnow + overlap recomputation (Spark
    supplies only xxhash64 for the gram hashes)."""
    from big_data_hadoop_spark.operators.textstats import winnow_neardup_pairs

    k, w, thr = 3, 2, 0.3
    df = _df(spark, texts)
    grams = sorted(
        {
            t[i : i + k]
            for t in (x.lower() for x in texts)
            for i in range(len(t) - k + 1)
        }
    )
    gram_hash = {}
    if grams:
        gram_hash = {
            r.g: r.h
            for r in spark.createDataFrame([(g,) for g in grams], "g string")
            .select("g", F.xxhash64("g").alias("h"))
            .collect()
        }
    fp_sets = {}
    for i, t in enumerate(texts):
        t = t.lower()
        hs = [gram_hash[t[j : j + k]] for j in range(len(t) - k + 1)]
        fp_sets[i] = (
            {min(hs[j : j + w]) for j in range(len(hs) - w + 1)}
            if len(hs) >= w
            else set()
        )
    expect = {}
    ids = sorted(fp_sets)
    for x, a in enumerate(ids):
        for b in ids[x + 1 :]:
            if fp_sets[a] and fp_sets[b]:
                sh = len(fp_sets[a] & fp_sets[b])
                ratio = sh / min(len(fp_sets[a]), len(fp_sets[b]))
                if ratio >= thr:
                    expect[(a, b)] = sh
    got = {
        (r.id_a, r.id_b): r.n_shared
        for r in winnow_neardup_pairs(df, k=k, w=w, threshold=thr).collect()
    }
    assert got == expect


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    words=st.lists(
        st.text(alphabet="abcde", min_size=1, max_size=6),
        min_size=1,
        max_size=30,
    ),
    n_merges=st.integers(min_value=1, max_value=40),
)
def test_bpe_roundtrip_property(spark, words, n_merges):
    """For ANY corpus and merge budget: encoding is lossless (pieces
    concatenate back to the token stream) and piece counts are bounded
    by characters+1 per token below and 1 per token above."""
    from big_data_hadoop_spark.operators.bpe import EOW, bpe_encode, bpe_train

    text = " ".join(words)
    docs = spark.createDataFrame([(0, text)], "doc_id long, text string")
    model = bpe_train(docs, n_merges=n_merges)
    (row,) = bpe_encode(docs, model).collect()
    toks = [t for t in text.lower().split(" ") if t]
    assert "".join(row["pieces"]).replace(EOW, " ").split() == toks
    assert len(toks) <= row["n_pieces"] <= sum(len(t) + 1 for t in toks)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    n_docs=st.integers(min_value=1, max_value=40),
    weights=st.dictionaries(
        st.sampled_from(["train", "val", "test", "holdout"]),
        st.floats(min_value=0.01, max_value=5.0),
        min_size=1,
        max_size=4,
    ),
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=39),
            st.integers(min_value=0, max_value=39),
        ),
        max_size=30,
    ),
    seed=st.integers(min_value=0, max_value=3),
)
def test_split_partition_and_atomicity_property(spark, n_docs, weights, edges, seed):
    """For ANY weights, duplicate graph, and seed: every doc gets
    exactly one label from the weight names, and no connected component
    straddles labels."""
    from big_data_hadoop_spark.operators.dedup import duplicate_clusters
    from big_data_hadoop_spark.pipeline import split_leakage_safe

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(n_docs)], "doc_id long, text string"
    )
    pairs = [
        (min(a, b), max(a, b))
        for a, b in edges
        if a != b and a < n_docs and b < n_docs
    ]
    clusters = None
    if pairs:
        clusters = duplicate_clusters(
            spark.createDataFrame(pairs, "id_a long, id_b long")
        )
    out = split_leakage_safe(docs, weights, clusters=clusters, seed=seed)
    rows = out.collect()
    assert len(rows) == n_docs
    assert {r["split"] for r in rows} <= set(weights)
    if clusters is not None:
        label = {r["doc_id"]: r["split"] for r in rows}
        comp = {
            r["member_id"]: r["cluster_id"] for r in clusters.collect()
        }
        by_comp: dict = {}
        for m, c in comp.items():
            by_comp.setdefault(c, set()).add(label[m])
        assert all(len(s) == 1 for s in by_comp.values())


# --- round-5 operators: line dedup and weighted sampling ---------------

_LINE_WORDS = ["alpha", "beta", "gamma", "shared", "", "  ", "x"]

docs_lines_strategy = st.lists(
    st.lists(
        st.sampled_from(_LINE_WORDS), min_size=0, max_size=6
    ).map("\n".join),
    min_size=1,
    max_size=6,
)


@given(texts=docs_lines_strategy, max_df=st.integers(min_value=1, max_value=3))
@_SETTINGS
def test_dedup_lines_equals_python_reference(spark, texts, max_df):
    """dedup_lines vs a direct Python re-implementation of the contract
    on random multi-line corpora (empty lines, whitespace lines,
    repeated lines within and across docs)."""
    from collections import defaultdict

    from big_data_hadoop_spark.operators.texthygiene import dedup_lines

    docs = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.doc_id: (r.text, r.n_lines, r.n_dropped)
        for r in dedup_lines(df, max_df=max_df).collect()
    }

    line_docs = defaultdict(set)
    for i, t in docs:
        for ln in t.split("\n"):
            if ln.strip():
                line_docs[ln.strip()].add(i)
    drop = {k for k, v in line_docs.items() if len(v) > max_df}
    for i, t in docs:
        lines = t.split("\n")
        kept = [ln for ln in lines if ln.strip() not in drop or not ln.strip()]
        n_dropped = len(lines) - len(kept)
        assert got[i] == ("\n".join(kept), len(lines), n_dropped), (i, t)


@given(
    weights=st.lists(
        st.floats(min_value=0.1, max_value=100.0, allow_nan=False),
        min_size=1,
        max_size=20,
    ),
    k=st.integers(min_value=0, max_value=25),
    seed=st.integers(min_value=0, max_value=10),
)
@_SETTINGS
def test_weighted_sample_race_property(spark, weights, k, seed):
    """Invariant: the draw is exactly the k smallest -ln(u)/w keys for
    the hash-derived uniforms — verified by replaying the race in
    Python on the collected uniforms."""
    import math

    from big_data_hadoop_spark.pipeline import weighted_sample

    df = spark.createDataFrame(
        [(i, w) for i, w in enumerate(weights)], "doc_id long, w double"
    )
    den = 2**31
    rows = df.select(
        "doc_id",
        "w",
        (
            (
                F.pmod(F.xxhash64("doc_id", F.lit(seed)), F.lit(den)).cast(
                    "double"
                )
                + F.lit(0.5)
            )
            / F.lit(float(den))
        ).alias("u"),
    ).collect()
    expect = [
        d
        for _, d in sorted(
            ((-math.log(r.u) / r.w, r.doc_id) for r in rows)
        )[:k]
    ]
    got = sorted(
        r.doc_id for r in weighted_sample(df, k, "w", seed=seed).collect()
    )
    assert got == sorted(expect)


# ----------------------------------------------------- URL canonicalizer

_URL_SCHEMES = st.sampled_from(["http", "HTTP", "https", "HtTpS"])
_URL_HOSTS = st.from_regex(r"[A-Za-z](?:[A-Za-z0-9.-]{0,10}[A-Za-z0-9])?", fullmatch=True)
_URL_PORTS = st.sampled_from(["", ":80", ":443", ":8080"])
_URL_PATHS = st.from_regex(r"(?:/[A-Za-z0-9._~%-]{0,8}){0,3}", fullmatch=True)
_URL_PARAMS = st.lists(
    st.sampled_from(
        [
            "a=1", "b=2", "z=", "q=x%20y", "ref=main",
            "utm_source=m", "UTM_Medium=e", "fbclid", "gclid=g",
            "ref_src=tw", "_ga=1.2",
        ]
    ),
    min_size=0,
    max_size=5,
)
_URL_FRAGS = st.sampled_from(["", "#f", "#sec-2"])


@given(
    scheme=_URL_SCHEMES,
    host=_URL_HOSTS,
    port=_URL_PORTS,
    path=_URL_PATHS,
    params=_URL_PARAMS,
    frag=_URL_FRAGS,
)
@_SETTINGS
def test_canonical_url_idempotent(spark, scheme, host, port, path, params, frag):
    """canonical(canonical(u)) == canonical(u) — the defining property
    of a canonicalizer (a second pass finding more to normalize means
    keys differ depending on how many times a pipeline cleaned them)."""
    from big_data_hadoop_spark.operators.texthygiene import canonical_url

    url = scheme + "://" + host + port + path
    if params:
        url += "?" + "&".join(params)
    url += frag
    once, twice = spark.createDataFrame([(url,)], "u string").select(
        canonical_url("u").alias("c1"),
    ).select("c1", canonical_url("c1").alias("c2")).first()
    assert once == twice, f"{url!r}: {once!r} != {twice!r}"
