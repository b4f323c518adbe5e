"""Product quantization (PQ) for embedding search — the compressed tier
of the similarity stack.

Implements the classic PQ scheme (Jégou, Douze, Schmid 2011, "Product
Quantization for Nearest Neighbor Search", IEEE TPAMI): split each
``dim``-dimensional vector into ``m`` subvectors, vector-quantize each
subspace with its own ``k``-centroid codebook, and represent every
corpus vector by ``m`` small codes (``m*log2(k)`` bits — 8 bytes per
vector at the classic m=8/k=256, a ~32x compression of a 64-dim float
vector). Search uses asymmetric distance computation (ADC): the QUERY
stays exact; its squared-L2 distance to a corpus vector is approximated
by summing, per subspace, the precomputed distance from the query's
subvector to the corpus code's centroid.

The reference repo has no analog; within this engine PQ completes the
ANN ladder: brute cosine (exact verifier) → hyperplane-LSH / IVF
(pruned candidate generation) → PQ (compressed storage + cheap scoring
for corpora whose raw vectors don't fit the cluster's memory budget).

Spark-first shape — every stage is declarative, nothing row-level runs
in Python:

* **Train** (the only driver-side step): ``m`` independent KMeans fits
  on a bounded sample (``similarity._bounded_training_sample`` — the
  iterative fit never touches the full corpus), one per subspace;
  centroids land in a tiny ``(j, code, centroid)`` codebook frame
  (``m*k`` rows).
* **Encode**: explode each vector into its ``m`` subvectors (narrow),
  broadcast-join the codebook on the subspace id, fold the squared-L2
  per candidate centroid with a codegen'd ``aggregate``, and take the
  per-(vector, subspace) argmin as ``min(struct(dist, code))`` — a
  plain aggregate with map-side partials and a deterministic
  lowest-code tie-break. A second tiny aggregation reassembles the
  ``m`` codes into an ordered array. Shuffles carry (id, j, code)-sized
  rows, never raw vectors.
* **Search (ADC)**: the lookup table is a LAZY frame — queries
  cross-joined with the broadcast codebook (``q*m*k`` rows, tiny);
  corpus codes explode to ``(id, j, code)`` and broadcast-join the LUT
  on ``(j, code)``; the per-(query, corpus) sum over ``m`` partial
  distances is one aggregation with map-side combine (the shuffle
  carries one row per (query, corpus id) pair); top-k is the standard
  per-query rank window. No driver collect anywhere on the search path.
  ``ivfpq_search`` probes cells exactly as IVF search does: each query
  ranks the coarse centroids with ``similarity.assign_cells`` (one
  parsed literal matrix, a per-row sort — no shuffle) and keeps its
  ``n_probe`` nearest. A ``residual=True`` IVF-PQ index (full IVFADC)
  widens the LUT to one per (query, PROBED cell), reading that cell's
  centroid from the same matrix — ``q*n_probe*m*k`` rows, still
  query-batch-sized, never corpus-sized.

Codes are deliberately storable: persist ``pq_encode``'s output plus
``pq_save``'s codebook table and serve ``pq_search`` from storage —
the same fit-once / search-many contract as ``similarity.IVFIndex``.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from big_data_hadoop_spark.functions.rank import _quote, top_k_per
from big_data_hadoop_spark.operators.similarity import (
    _as_double,
    _bounded_training_sample,
    _centroid_matrix,
    _probe_cells,
    _sq_l2_sql,
    _width_checked,
    ivf_build,
)
from big_data_hadoop_spark.session import release_on_drop

__all__ = [
    "PQCodebook",
    "IVFPQIndex",
    "ivfpq_build",
    "ivfpq_load",
    "ivfpq_save",
    "ivfpq_search",
    "pq_train",
    "pq_encode",
    "pq_refine",
    "pq_search",
    "pq_save",
    "pq_load",
]

#: KMeans fits performed by ``pq_train`` since import (build-once
#: observability, same contract as ``similarity.IVF_FIT_COUNT``).
PQ_FIT_COUNT = 0


@dataclass
class PQCodebook:
    """A trained PQ codebook: ``entries`` is a tiny lazy frame
    ``(j int, code int, centroid array<double>)`` with ``m*k`` rows."""

    entries: DataFrame
    dim: int
    m: int
    k: int

    @property
    def dsub(self) -> int:
        return self.dim // self.m


def _sub(vec: str, dsub: int) -> str:
    """SQL text for subspace ``j``'s slice of the array column ``vec``."""
    return f"slice({vec}, j * {dsub} + 1, {dsub})"


def _residual(vec: str, centroids: list[list[float]], cell: str) -> str:
    """SQL text for ``vec`` minus the centroid of the cell in column
    ``cell``, elementwise (the IVFADC residual)."""
    return (
        f"zip_with({vec}, element_at({_centroid_matrix(centroids)}, "
        f"{cell} + 1), (x, y) -> x - y)"
    )


def _query_vectors(
    queries: DataFrame, id_col: str, vec_col: str, dim: int, op: str
) -> DataFrame:
    """``(id_col, _qd)``: the query vectors as ``array<double>``, a
    vector whose width is not the codebook's refused in the plan
    (``similarity._width_checked``)."""
    checked = _width_checked(_quote(vec_col), dim, op, "the codebook")
    return queries.select(
        _quote(id_col), F.expr(f"CAST({checked} AS ARRAY<DOUBLE>)").alias("_qd")
    )


def _subvectors(df: DataFrame, id_col: str, vec_col: str, m: int, dsub: int) -> DataFrame:
    """Explode ``(id, vec)`` into ``(id, j, sub array<double>)`` —
    narrow, one output row per subspace."""
    emb = _as_double(F.col(_quote(vec_col)))
    subs = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda j: F.struct(
            j.cast("int").alias("j"),
            F.slice(emb, j * dsub + 1, dsub).alias("sub"),
        ),
    )
    key = _quote(id_col)
    return df.select(key, F.explode(subs).alias("s")).select(
        key, F.col("s.j").alias("j"), F.col("s.sub").alias("sub")
    )


def pq_train(
    df: DataFrame,
    dim: int,
    m: int = 8,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    train_cap: int = 100_000,
    max_iter: int = 8,
    n_rows: int | None = None,
) -> PQCodebook:
    """Fit the ``m`` per-subspace codebooks ONCE on a bounded sample.

    ``m`` KMeans fits run driver-coordinated (pyspark.ml has no
    multi-model fit), each over the SAME cached bounded sample — the
    per-fit state is ``k`` centroids of ``dim/m`` doubles. ``k`` is
    clamped to the sample size like ``ivf_build``; ``max_iter=8`` for
    the same reason (a quantizer needs coverage, not convergence).

    ``n_rows``, when given, must be the EXACT row count of ``df``: it
    sizes the sampling modulus and — when it bounds ``train_cap`` —
    replaces the sample count that clamps ``k`` and gates the
    empty-corpus refusal, so a stale or full-table count for a filtered
    frame would mis-clamp ``k`` past the true sample size and hand
    KMeans an impossible fit. In-repo callers pass parquet footer
    counts or the validation job's count of the same frame.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    global PQ_FIT_COUNT

    if dim % m:
        raise ValueError(f"m={m} must divide dim={dim}")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    dsub = dim // m
    e = df.select(F.col(id_col), _as_double(F.col(vec_col)).alias("_ed"))
    train = _bounded_training_sample(e, id_col, train_cap, n_rows=n_rows).cache()
    if n_rows is not None and n_rows <= train_cap:
        # the sample IS the corpus and the caller told us its size —
        # skip the count job (the first fit materializes the cache)
        n_train = n_rows
    else:
        n_train = train.count()  # one job; also materializes the cache
    if n_train == 0:
        raise ValueError("pq_train needs a non-empty corpus")
    rows = []
    for j in range(m):
        sub = train.select(
            array_to_vector(F.slice("_ed", j * dsub + 1, dsub)).alias("_v")
        )
        kj = min(k, n_train)
        if kj == 1:
            # KMeans rejects k=1; the single centroid is the MINIMUM-id
            # sample vector — ordered, because an unordered limit(1)
            # returns an arbitrary partition's first row and the
            # codebook would differ across runs (review finding).
            (row,) = (
                train.orderBy(id_col)
                .limit(1)
                .select(array_to_vector(F.slice("_ed", j * dsub + 1, dsub)).alias("_v"))
                .collect()
            )
            centers = [[float(x) for x in row._v.toArray()]]
        else:
            model = KMeans(
                k=kj, seed=seed + j, featuresCol="_v",
                predictionCol="_c", maxIter=max_iter,
            ).fit(sub)
            PQ_FIT_COUNT += 1
            centers = [[float(x) for x in c] for c in model.clusterCenters()]
        rows.extend((j, code, c) for code, c in enumerate(centers))
    train.unpersist()
    from big_data_hadoop_spark.sources.io import local_frame

    entries = local_frame(
        df.sparkSession, rows, "j int, code int, centroid array<double>"
    )
    return PQCodebook(entries=entries, dim=dim, m=m, k=k)


def pq_encode(
    df: DataFrame,
    cb: PQCodebook,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``(id, codes array<int>)``: per subspace, the code of the nearest
    centroid (squared L2; ties break to the LOWEST code via the
    ``min(struct(dist, code))`` aggregate — deterministic)."""
    key = _quote(id_col)
    subs = _subvectors(df, id_col, vec_col, cb.m, cb.dsub)
    scored = subs.join(F.broadcast(cb.entries), "j").select(
        key,
        "j",
        "code",
        F.expr(_sq_l2_sql("sub", "centroid")).alias("dist"),
    )
    best = scored.groupBy(key, "j").agg(
        F.min(F.struct("dist", "code")).alias("b")
    )
    return (
        best.groupBy(key)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("j", F.col("b.code").alias("code")))),
                lambda s: s["code"],
            ).alias("codes")
        )
    )


def pq_search(
    codes: DataFrame,
    cb: PQCodebook,
    queries: DataFrame,
    topk: int = 10,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "embedding",
) -> DataFrame:
    """ADC top-k: ``(query_id, vec_id, adc_dist, rank)`` — the ``topk``
    corpus codes per query by approximate squared L2, rank 1 = nearest,
    ties broken by corpus id ascending (deterministic).

    ``codes`` is ``pq_encode`` output (or its persisted table);
    ``queries`` a small frame of raw query vectors. The LUT and the
    exploded-code join are both broadcast-side; see the module
    docstring for the full shape. A query vector whose width is not
    the codebook's fails the search with an error naming both widths."""
    qid, key = _quote(query_id_col), _quote(id_col)
    lut = (
        _query_vectors(queries, query_id_col, query_vec_col, cb.dim, "pq_search")
        .join(F.broadcast(cb.entries))
        .select(
            qid,
            "j",
            "code",
            F.expr(_sq_l2_sql(_sub("_qd", cb.dsub), "centroid")).alias("pdist"),
        )
    )
    flat = codes.select(key, F.posexplode("codes").alias("j", "code"))
    dists = (
        flat.join(F.broadcast(lut), ["j", "code"])
        .groupBy(qid, key)
        .agg(F.sum("pdist").alias("adc_dist"))
    )
    return release_on_drop(
        top_k_per(
            dists, query_id_col, f"adc_dist ASC, {key} ASC", topk, rank="rank"
        ).select(qid, key, "adc_dist", "rank")
    )


def pq_refine(
    cand: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    topk: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "embedding",
) -> DataFrame:
    """Exact re-rank of an ADC shortlist against the RAW corpus vectors
    — the classic recall lever for quantization-limited PQ (Jégou,
    Tavenard, Douze, Amsaleg 2011, "Searching in one billion vectors:
    re-rank with source coding": IVFADC+R). The round-12 recall table
    measured PQ/IVF-PQ recall@10 CEILING-limited by codebook error
    (~0.17 at the registered m=4, FLAT-to-falling in n_probe — ADC-
    favored false positives outrank true neighbors), which widening
    the candidate pool cannot fix but exact re-scoring of a modest
    shortlist can: run ``pq_search`` / ``ivfpq_search`` at ``topk =
    shortlist`` (a few × the final k), then re-rank those candidates
    by TRUE squared L2 and keep the final ``topk``.

    Guarantee (pinned in tests): because the exact metric re-orders a
    SUPERSET of the ADC top-k, recall@k of the refined result is >=
    recall@k of plain ADC at the same shortlist, monotone in shortlist
    size, and equals the exact brute-force top-k once the shortlist
    covers the corpus.

    Scale shape: ``cand`` is ``(query_id, id)`` pairs — queries ×
    shortlist rows, small by the query-frame contract — BROADCAST into
    one scan of the raw corpus (an id equi-join; no corpus shuffle, no
    cross join), then broadcast-joined to the raw query vectors; the
    per-pair exact distance is one codegen'd fold and top-k is the
    standard per-query rank window. The corpus ships only the
    candidate rows' vectors forward. Returns ``(query_id, id, dist,
    rank)``, rank 1 = nearest by exact squared L2, ties broken by
    corpus id ascending (deterministic, the ``pq_search`` rule); the
    query row itself is kept if shortlisted (the ``pq_search``
    self-inclusion contract)."""
    pairs = cand.select(F.col(query_id_col), F.col(id_col))
    raw = corpus.select(
        F.col(id_col), _as_double(F.col(vec_col)).alias("_cd")
    )
    qd = queries.select(
        F.col(query_id_col), _as_double(F.col(query_vec_col)).alias("_qd")
    )
    scored = (
        raw.join(F.broadcast(pairs), id_col)
        .join(F.broadcast(qd), query_id_col)
        .select(
            query_id_col,
            id_col,
            F.expr(_sq_l2_sql("_qd", "_cd")).alias("dist"),
        )
    )
    return top_k_per(
        scored, query_id_col, f"dist ASC, {_quote(id_col)} ASC", topk,
        rank="rank",
    ).select(query_id_col, id_col, "dist", "rank")


@dataclass
class IVFPQIndex:
    """IVF-pruned PQ index: coarse cells from ``similarity.ivf_build``
    plus PQ codes carrying their cell id — ``codes`` is ``(id, cell,
    codes array<int>)``. Persist ``codes`` bucketed by cell and the
    codebook via :func:`pq_save` for fit-once serve-many.

    ``residual`` marks the encoding domain (pinned at build — codes
    from one domain are meaningless in the other): False = codes
    quantize the RAW vectors (one query-only LUT serves every cell),
    True = codes quantize the coarse RESIDUAL ``x − c_cell`` (Jégou et
    al.'s full IVFADC): the codebook spends its k centroids per
    subspace on the within-cell spread instead of re-describing the
    coarse geometry — tighter quantization at the SAME code size, paid
    for at search time with one LUT per (query, probed cell)."""

    centroids: list[list[float]]
    cb: PQCodebook
    codes: DataFrame
    id_col: str
    residual: bool = False


def ivfpq_build(
    df: DataFrame,
    dim: int,
    n_cells: int = 16,
    m: int = 8,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    train_cap: int = 100_000,
    n_rows: int | None = None,
    residual: bool = False,
) -> IVFPQIndex:
    """Build the combined index: one coarse KMeans (cells) + ``m``
    subspace KMeans (codebooks) + one encode pass, all on the same
    bounded-sample discipline. This is the shape real billion-vector
    deployments run (Jégou et al.'s IVFADC).

    ``residual=False`` (default, the historical mode): codes quantize
    the RAW vectors, so the same codebook serves every cell and the
    ADC lookup table is query-only. ``residual=True`` is the round-12
    response to the MEASURED quantization ceiling (recall@10 ~0.17 at
    m=4 on this corpus, flat in n_probe — BASELINE.md): quantize the
    coarse residual ``x − c_cell`` instead, so the subspace codebooks
    spend their k centroids on the within-cell spread rather than
    re-describing coarse geometry the cell id already pins — tighter
    quantization at the SAME code size (the codes table's shape is
    unchanged). Cost moves to search: the LUT becomes one per
    (query, PROBED cell) — ``q × n_probe × m × k`` rows, still a
    broadcast-sized frame (it scales with the query batch, never the
    corpus). The residual pass is declarative (``zip_with`` subtract
    against the cell's row of the parsed centroid matrix under the
    SAME bounded-sample fits) — no extra shuffle vs the raw mode."""
    ivf = ivf_build(
        df, n_cells=n_cells, id_col=id_col, vec_col=vec_col, seed=seed,
        train_cap=train_cap, n_rows=n_rows,
    )
    if residual:
        # ONE execution of the coarse assignment + subtraction: the
        # codebook fit's sample scan, the encode pass, and the cell
        # join-back below all read this checkpoint (round-12 review:
        # the lazy frame re-ran the corpus-wide assignment 3x)
        res = ivf.assigned.select(
            F.col(id_col),
            F.col("cell"),
            F.expr(_residual("emb_d", ivf.centroids, "cell")).alias("_res"),
        ).localCheckpoint(eager=True)
        cb = pq_train(
            res, dim=dim, m=m, k=k, id_col=id_col, vec_col="_res",
            seed=seed, train_cap=train_cap, n_rows=n_rows,
        )
        codes = pq_encode(res, cb, id_col=id_col, vec_col="_res").join(
            res.select(F.col(id_col), "cell"), id_col
        )
        return IVFPQIndex(
            centroids=ivf.centroids, cb=cb, codes=codes, id_col=id_col,
            residual=True,
        )
    cb = pq_train(
        df, dim=dim, m=m, k=k, id_col=id_col, vec_col=vec_col,
        seed=seed, train_cap=train_cap, n_rows=n_rows,
    )
    codes = pq_encode(df, cb, id_col=id_col, vec_col=vec_col).join(
        ivf.assigned.select(F.col(id_col), "cell"), id_col
    )
    return IVFPQIndex(
        centroids=ivf.centroids, cb=cb, codes=codes, id_col=id_col
    )


def ivfpq_search(
    index: IVFPQIndex,
    queries: DataFrame,
    topk: int = 10,
    n_probe: int = 4,
    query_id_col: str = "query_id",
    query_vec_col: str = "embedding",
) -> DataFrame:
    """ADC top-k restricted to each query's ``n_probe`` nearest cells:
    ``(query_id, id, adc_dist, rank)``. With ``n_probe == n_cells``
    this equals :func:`pq_search` over the full code table exactly
    (pinned by test; raw mode — a residual index has no flat twin,
    its numpy replication is the pin); smaller ``n_probe`` trades
    recall for touching only ``n_probe / n_cells`` of the codes — the
    combination that keeps billion-vector search off both the raw
    vectors AND most of the compressed corpus.

    For a ``residual=True`` index the approximated distance is
    ``||q − (c_cell + r̂)||² = ||(q − c_cell) − r̂||²`` — the LUT is
    built per (query, PROBED cell) from the query's residual against
    that cell (``q × n_probe × m × k`` rows, broadcast-sized), and
    the per-candidate sum joins on (query, cell, subspace, code). A
    query vector whose width is not the codebook's fails the search
    with an error naming both widths."""
    cb = index.cb
    q = _query_vectors(
        queries, query_id_col, query_vec_col, cb.dim, "ivfpq_search"
    )
    probed = _probe_cells(q, index.centroids, "_qd", n_probe)
    if index.residual:
        # one LUT row set per (query, probed cell): the query's
        # residual against THAT cell vs every (j, code) centroid
        probed_res = probed.select(
            query_id_col,
            "q_cell",
            F.expr(_residual("_qd", index.centroids, "q_cell")).alias("_qr"),
        )
        lut = (
            probed_res.join(F.broadcast(cb.entries))
            .select(
                query_id_col,
                "q_cell",
                "j",
                "code",
                F.expr(_sq_l2_sql(_sub("_qr", cb.dsub), "centroid")).alias(
                    "pdist"
                ),
            )
        )
        cand = index.codes.join(
            F.broadcast(probed_res.select(query_id_col, "q_cell")),
            F.col("cell") == F.col("q_cell"),
        ).select(query_id_col, index.id_col, "cell", "codes")
        flat = cand.select(
            query_id_col,
            F.col(index.id_col),
            "cell",
            F.posexplode("codes").alias("j", "code"),
        )
        dists = (
            flat.join(
                F.broadcast(lut),
                (F.col("cell") == F.col("q_cell"))
                & (flat[query_id_col] == lut[query_id_col])
                & (flat["j"] == lut["j"])
                & (flat["code"] == lut["code"]),
            )
            .groupBy(flat[query_id_col], F.col(index.id_col))
            .agg(F.sum("pdist").alias("adc_dist"))
        )
    else:
        probed = probed.select(query_id_col, "q_cell")
        lut = (
            q.join(F.broadcast(cb.entries))
            .select(
                query_id_col,
                "j",
                "code",
                F.expr(_sq_l2_sql(_sub("_qd", cb.dsub), "centroid")).alias(
                    "pdist"
                ),
            )
        )
        cand = index.codes.join(
            F.broadcast(probed),
            F.col("cell") == F.col("q_cell"),
        ).select(query_id_col, index.id_col, "codes")
        flat = cand.select(
            query_id_col,
            F.col(index.id_col),
            F.posexplode("codes").alias("j", "code"),
        )
        dists = (
            flat.join(F.broadcast(lut), [query_id_col, "j", "code"])
            .groupBy(query_id_col, index.id_col)
            .agg(F.sum("pdist").alias("adc_dist"))
        )
    return release_on_drop(
        top_k_per(
            dists, query_id_col, f"adc_dist ASC, {_quote(index.id_col)} ASC",
            topk, rank="rank",
        ).select(query_id_col, index.id_col, "adc_dist", "rank")
    )


def ivfpq_save(index: IVFPQIndex, path: str) -> None:
    """Persist the FULL IVF-PQ index — codebook, codes, coarse
    centroids, AND the encoding domain — so a reload serves
    identically. ``pq_save`` alone cannot do this faithfully for an
    index: it stores neither the centroids nor the ``residual`` flag,
    and a hand-reassembled ``IVFPQIndex`` defaults ``residual=False``
    — searching residual-domain codes with a raw-domain LUT returns
    silently wrong rankings (round-12 review). Layout: ``codebook/``
    (the ``pq_save`` parquet), ``codes/`` (repartitioned by cell so
    probed-cell scans benefit from row-group min/max skipping), and
    ``meta.json`` (centroids + residual + id column — driver-sized)."""
    os.makedirs(path, exist_ok=True)
    pq_save(index.cb, os.path.join(path, "codebook"))
    index.codes.repartition("cell").write.mode("overwrite").parquet(
        os.path.join(path, "codes")
    )
    with open(os.path.join(path, "meta.json"), "w") as fh:
        json.dump(
            {
                "residual": bool(index.residual),
                "id_col": index.id_col,
                "centroids": index.centroids,
            },
            fh,
        )


def ivfpq_load(spark, path: str) -> IVFPQIndex:
    """Reload an :func:`ivfpq_save` index; the pinned ``residual``
    domain rides along, so search picks the right LUT shape."""
    with open(os.path.join(path, "meta.json")) as fh:
        meta = json.load(fh)
    return IVFPQIndex(
        centroids=[[float(x) for x in c] for c in meta["centroids"]],
        cb=pq_load(spark, os.path.join(path, "codebook")),
        codes=spark.read.parquet(os.path.join(path, "codes")),
        id_col=meta["id_col"],
        residual=bool(meta["residual"]),
    )


def pq_save(cb: PQCodebook, path: str) -> None:
    """Persist the codebook frame (parquet); shape/meta ride as columns."""
    cb.entries.withColumn("dim", F.lit(cb.dim)).withColumn(
        "m", F.lit(cb.m)
    ).withColumn("k", F.lit(cb.k)).write.mode("overwrite").parquet(path)


def pq_load(spark, path: str) -> PQCodebook:
    df = spark.read.parquet(path)
    meta = df.select("dim", "m", "k").first()
    return PQCodebook(
        entries=df.select("j", "code", "centroid"),
        dim=meta["dim"],
        m=meta["m"],
        k=meta["k"],
    )
