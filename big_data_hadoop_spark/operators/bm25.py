"""BM25 lexical retrieval — the inverted-index complement to the
embedding ANN tiers.

Implements the Okapi BM25 ranking function (Robertson & Zaragoza 2009,
"The Probabilistic Relevance Framework: BM25 and Beyond"; the idf form
is Lucene's ``ln(1 + (N - df + 0.5)/(df + 0.5))``, which keeps idf
positive for ultra-common terms). The reference repo has no retrieval
surface; within this engine BM25 gives the curation/eval stack lexical
top-k (benchmark contamination triage, nearest-neighbor inspection)
beside ``similarity``'s dense paths.

Exact semantics (replicated by the pure-Python oracle in
``tests/test_bm25.py``):

* Terms are the engine's kept tokens (single-space split, lowercased,
  empties dropped); tf counts every occurrence; ``|d|`` is the kept-
  token count; query terms are DEDUPLICATED (standard bag-of-words
  query with binary query-side tf).
* ``score(q, d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1-b+b·|d|/avgdl))``
  over the distinct query terms present in ``d``.

Scale shape: the index is two count tables built with the word-count
skeleton — postings ``(term, doc, tf)`` and docstats ``(doc, len)`` —
plus a one-row totals frame (N, avgdl) that joins in by broadcast,
all lazy. Scoring is one equi-join of query terms against postings on
the term key (the classic inverted-index lookup: only documents
sharing a term are touched), a per-(query, doc) sum in ascending
term-score order (bit-identical from run to run), and the standard
top-k rank window. Ultra-common terms make the term join skew-prone
at corpus scale; ``max_df_frac`` drops terms
appearing in more than that fraction of documents from the INDEX
(the standard stopword valve — such terms carry near-zero idf anyway),
bounding any posting list at ``max_df_frac · N``.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from big_data_hadoop_spark.functions.rank import _quote, top_k_per
from big_data_hadoop_spark.functions.text import kept_tokens
from big_data_hadoop_spark.session import release_on_drop

__all__ = ["BM25Index", "bm25_index", "bm25_topk", "hybrid_topk"]


def _kept(text_col: str):
    return kept_tokens(F.col(_quote(text_col)))


@dataclass(frozen=True)
class BM25Index:
    """Postings ``(term, id, tf, df)``, docstats ``(id, dlen)``, totals
    one-row ``(n_docs, avgdl)`` — all lazy DataFrames; persist them for
    build-once serve-many (same contract as ``similarity.IVFIndex``)."""

    postings: DataFrame
    docstats: DataFrame
    totals: DataFrame
    id_col: str


def bm25_index(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df_frac: float | None = None,
) -> BM25Index:
    """Build the BM25 index frames (no action, nothing collected).

    ``max_df_frac``: drop terms whose document frequency exceeds this
    fraction of the corpus from the postings (skew valve, see module
    docstring). ``None`` keeps everything.
    """
    key = _quote(id_col)
    toks = docs.select(key, F.explode(_kept(text_col)).alias("term"))
    postings = toks.groupBy(key, "term").agg(F.count("*").alias("tf"))
    docstats = docs.select(
        key, F.size(_kept(text_col)).cast("long").alias("dlen")
    )
    totals = docstats.agg(
        F.count("*").alias("n_docs"),
        F.avg("dlen").alias("avgdl"),
    )
    dfreq = postings.groupBy("term").agg(F.count("*").alias("df"))
    if max_df_frac is not None:
        if not (0.0 < max_df_frac <= 1.0):
            raise ValueError(f"max_df_frac must be in (0, 1], got {max_df_frac}")
        dfreq = dfreq.join(F.broadcast(totals)).filter(
            F.col("df") <= F.col("n_docs") * F.lit(float(max_df_frac))
        ).select("term", "df")
    postings = postings.join(dfreq, "term")
    return BM25Index(
        postings=postings, docstats=docstats, totals=totals, id_col=id_col
    )


def bm25_topk(
    index: BM25Index,
    queries: DataFrame,
    topk: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    query_id_col: str = "query_id",
    query_text_col: str = "text",
) -> DataFrame:
    """Top-``topk`` documents per query: ``(query_id, id, score, rank)``,
    rank 1 = best, ties broken by document id ascending.

    Only documents sharing at least one indexed query term are scored
    (inverted-index semantics: a zero-overlap document scores 0 and is
    never materialized).
    """
    qid, key = _quote(query_id_col), _quote(index.id_col)
    qt = queries.select(
        qid,
        F.explode(F.array_distinct(_kept(query_text_col))).alias("term"),
    )
    hit = (
        qt.join(index.postings, "term")
        .join(index.docstats, index.id_col)
        .join(F.broadcast(index.totals))
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    tf = F.col("tf").cast("double")
    denom = tf + F.lit(float(k1)) * (
        F.lit(1.0 - b) + F.lit(float(b)) * F.col("dlen") / F.col("avgdl")
    )
    term_score = idf * tf * F.lit(float(k1) + 1.0) / denom
    # summed in ascending order, not by F.sum: after two shuffle joins
    # the rows of a group arrive in a different order from run to run,
    # and so did the last bits of a float sum
    scored = (
        hit.select(qid, key, term_score.alias("_ts"))
        .groupBy(qid, key)
        .agg(
            F.expr(
                "aggregate(array_sort(collect_list(_ts)), 0.0D, "
                "(acc, x) -> acc + x)"
            ).alias("score")
        )
    )
    return release_on_drop(
        top_k_per(
            scored, query_id_col, f"score DESC, {key} ASC", topk, rank="rank",
        ).select(qid, key, "score", "rank")
    )


def hybrid_topk(
    index: BM25Index,
    corpus_emb: DataFrame,
    queries: DataFrame,
    topk: int = 10,
    n_candidates: int = 100,
    k1: float = 1.2,
    b: float = 0.75,
    query_id_col: str = "query_id",
    query_text_col: str = "text",
    query_vec_col: str = "embedding",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Two-stage hybrid retrieval: BM25 generates ``n_candidates``
    lexical candidates per query, exact cosine over the embedding
    column re-ranks them — the standard sparse-then-dense serving shape
    (cheap inverted-index recall, expensive similarity only on the
    shortlist). Output ``(query_id, id, bm25_score, cosine, rank)``,
    rank 1 = highest cosine, ties by id ascending.

    ``corpus_emb`` is ``(id, embedding)`` keyed like the BM25 corpus;
    ``queries`` carries BOTH its text and its embedding. The dense
    stage touches ``n_candidates`` rows per query — never the corpus —
    via an equi-join of the candidate list against the embedding table
    (broadcast when the query batch is small; at scale both sides hash
    on the id key)."""
    from big_data_hadoop_spark.operators.similarity import dot, norm

    cand = bm25_topk(
        index, queries, topk=n_candidates, k1=k1, b=b,
        query_id_col=query_id_col, query_text_col=query_text_col,
    ).select(query_id_col, index.id_col, F.col("score").alias("bm25_score"))
    # zero-norm guard (review finding): cosine of a zero vector is NaN,
    # and Spark sorts NaN ABOVE every double — an empty/failed embedding
    # would take rank 1. Zero-norm rows are excluded from both sides.
    q_emb = queries.select(
        F.col(query_id_col),
        F.col(query_vec_col).cast("array<double>").alias("_q"),
    ).withColumn("_qn", norm("_q", dim)).filter(F.col("_qn") > 0)
    c_emb = corpus_emb.select(
        F.col(index.id_col),
        F.col(vec_col).cast("array<double>").alias("_c"),
    ).withColumn("_cn", norm("_c", dim)).filter(F.col("_cn") > 0)
    cos = dot("_q", "_c", dim) / (F.col("_qn") * F.col("_cn"))
    scored = (
        cand.join(c_emb, index.id_col)
        .join(q_emb, query_id_col)
        .withColumn("cosine", cos)
    )
    return top_k_per(
        scored, query_id_col, f"cosine DESC, {_quote(index.id_col)} ASC",
        topk, rank="rank",
    ).select(query_id_col, index.id_col, "bm25_score", "cosine", "rank")
