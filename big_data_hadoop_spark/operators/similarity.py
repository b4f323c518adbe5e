"""Embedding similarity search over ``embeddings(vec_id, embedding, label)``.

Cosine arithmetic is done entirely with array higher-order functions in
DOUBLE precision with a fixed left-fold order (``0.0 + t1 + t2 + ...``), so
results are bit-identical to any engine evaluating the same left-associated
expression — the DuckDB oracle needs no rounding tolerance.

Scale design:
- ``cosine_topk`` broadcasts the (small) query set against the full corpus:
  a broadcast nested-loop join followed by a per-query top-k window — the
  corpus is scanned once, never shuffled.
- ``cosine_neardup_pairs`` is the brute-force all-pairs baseline (the
  verification primitive).
- ``lsh_bucketed_topk`` is the 100 TB path: random-hyperplane signatures
  bucket the corpus so candidates meet on an equi-join of short
  ``(table, bucket)`` keys instead of a cross join; exact cosine re-ranks
  within buckets. One plan serves any number of hash tables.
- ``operators.pq`` adds the compressed tier (product quantization +
  asymmetric-distance search) for corpora whose raw vectors exceed the
  memory budget.

Every per-query top-k here is ``functions.rank.top_k_per`` ordered by
``sim DESC, neighbor_id ASC``, and every cosine operator drops zero-norm
vectors with one guard, :func:`_nonzero`.
"""

from __future__ import annotations

import collections
import itertools
import json
import math
import weakref
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from big_data_hadoop_spark.functions.rank import _literal, _quote, top_k_per
from big_data_hadoop_spark.session import release_on_drop

#: KMeans fits performed by ``ivf_build`` since import — test observability
#: for the build-once/search-many contract (VERDICT r3 #2).
IVF_FIT_COUNT = 0


def _as_double(col: Column) -> Column:
    return col.cast("array<double>")


def _nonzero(df: DataFrame, vec_col: str) -> DataFrame:
    """Rows of ``df`` whose ``vec_col`` has a nonzero element: the
    zero-norm guard of every cosine operator, on corpus and query sides
    alike. A zero vector has no direction: its cosine divides by zero,
    which is NULL in Spark (an error under ANSI) but NaN in DuckDB, so
    it would diverge from the oracle and pollute top-k tails. The
    predicate reads the RAW
    array (``exists nonzero element`` is ``nrm > 0`` up to square
    underflow) because a ``nrm > 0`` conjunct pushes through the flat
    projection and re-inlines the dim-term sqrt chain and its casts
    into filter and constraint propagation (plan-size explosion, OOM
    observed); the raw predicate is cheap and reaches the scan."""
    return df.where(
        f"exists(CAST({_quote(vec_col)} AS ARRAY<DOUBLE>), x -> x != 0.0D)"
    )


def _width_checked(
    vec: str, width: int | str, op: str, of: str = "the index"
) -> str:
    """SQL text for the query array ``vec``, or a ``raise_error`` naming
    both widths when its size is not ``width`` (an int, or SQL text for
    the width it must match). A query of another width has no cosine
    or distance against the corpus: ``zip_with`` pads the shorter side
    with NULLs, and a PQ slice drops or NULLs the extra elements, so
    without it the query ranks by ``sim = None`` or a partial distance.
    The refusal is part of the plan: it costs no extra job."""
    return (
        f"CASE WHEN {vec} IS NOT NULL AND size({vec}) != {width} THEN "
        f"raise_error(concat('{op}: a query vector has ', "
        f"CAST(size({vec}) AS STRING), ' dimensions, {of} has ', "
        f"CAST({width} AS STRING))) ELSE {vec} END"
    )


def dot(a: str, b: str, dim: int | None = None) -> Column:
    """Left-fold dot product of the double-array columns NAMED ``a``
    and ``b``: ``((0.0 + a1*b1) + a2*b2) + ...``, parsed from
    :func:`_dot_sql` (a Column raises ``TypeError``). With ``dim`` the
    fold is unrolled into a flat codegen'd ``element_at`` chain:
    identical association order (so bit-identical results), but no
    per-row zipped-array allocation."""
    if not isinstance(a, str) or not isinstance(b, str):
        raise TypeError("dot takes column names, not Columns")
    return F.expr(_dot_sql(_quote(a), _quote(b), dim))


def _dot_sql(a: str, b: str, dim: int | None = None, flat: bool = False) -> str:
    """:func:`dot` as SQL text: the one rendering of the left-fold dot
    ``((0.0 + a1*b1) + a2*b2) + ...`` in all its forms. ``a`` and
    ``b`` are SQL text for double arrays: without ``dim`` the fold runs
    over the arrays (``aggregate`` over ``zip_with``), with ``dim`` it
    is unrolled over ``element_at``. With ``flat`` they are column
    prefixes and element ``i`` is the scalar column ``<prefix>i``
    (:func:`_flat`). Every form associates the same way, so all are
    bit-equal. Parsed, the unrolled form costs a few py4j calls where
    3·dim Column nodes cost ~0.4 s of driver time at dim=64."""
    if dim is None:
        return (
            f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, "
            "(acc, x) -> acc + x)"
        )
    at = "{}{}" if flat else "element_at({}, {})"
    return "0.0D" + "".join(
        f" + {at.format(a, i)} * {at.format(b, i)}" for i in range(1, dim + 1)
    )


def norm(a: str, dim: int | None = None) -> Column:
    """Left-fold L2 norm of the double-array column NAMED ``a``:
    ``sqrt((0.0 + a1*a1) + a2*a2 + ...)``, parsed from
    :func:`_norm_sql` (a Column raises ``TypeError``). With ``dim``
    the fold is unrolled into an ``element_at`` chain with the
    identical association order, so both forms are bit-equal."""
    if not isinstance(a, str):
        raise TypeError("norm takes a column name, not a Column")
    return F.expr(_norm_sql(a, dim))


def _norm_sql(a: str, dim: int | None) -> str:
    """:func:`norm` as SQL text: the one rendering of the norm fold —
    the array fold, or with ``dim`` :func:`_dot_sql`'s unrolled chain
    of ``a`` with itself."""
    if dim is None:
        return (
            f"SQRT(aggregate(transform({_quote(a)}, x -> x * x), 0.0D, "
            "(acc, x) -> acc + x))"
        )
    return f"SQRT({_dot_sql(_quote(a), _quote(a), dim)})"


def with_norm(
    df: DataFrame,
    vec_col: str = "embedding",
    out: str = "nrm",
    dim: int | None = None,
) -> DataFrame:
    """``df`` plus ``emb_d``, ``vec_col`` cast to ``array<double>``, and
    ``out``, its :func:`norm`. Both are parsed from SQL text: built as
    Column lambdas, the cast and the norm fold cost ~100 py4j round
    trips per call, a quarter of building an IVF search."""
    return df.withColumn(
        "emb_d", F.expr(f"CAST({_quote(vec_col)} AS ARRAY<DOUBLE>)")
    ).withColumn(out, norm("emb_d", dim))


def _flat(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    prefix: str = "_x",
    extra: tuple[str, ...] = (),
) -> DataFrame:
    """Flatten an embedding into ``dim`` scalar double columns plus the
    left-fold norm.

    The flat form is the fast path for pairwise scoring: the projection
    runs once per INPUT row (below the join), and the post-join dot product
    is a whole-stage-codegen'd chain of primitive double multiply-adds —
    no per-pair array materialization or boxed element access. Measured at
    sf0.1 (2k vectors, 2M pairs) this is ~10x faster than an array
    higher-order-function fold and ~20x faster than per-pair
    ``element_at`` chains.

    The cast to ``array<double>`` is materialized in its OWN projection:
    inlining it under each ``element_at`` re-casts the whole array once
    per output column (dim x the work — measured 4x slower end-to-end).
    CollapseProject keeps the two projections separate because the cast
    is non-cheap and referenced ``dim`` times.

    Each element is wrapped in ``coalesce(..., 0.0)`` to make the column
    NON-NULLABLE. Without it, a downstream ``sim >= threshold`` predicate
    makes Catalyst infer ``isnotnull`` on all ``dim`` columns and push a
    giant conjunction below this projection — re-inlining the cast into
    every conjunct, overflowing Janino's 64KB method limit (interpreted
    fallback, logged ``ERROR CodeGenerator``). Embeddings are fixed-dim
    and null-free, so the fallback value is never observed.
    """
    cast_once = df.selectExpr(
        _quote(id_col),
        *map(_quote, extra),
        f"CAST({_quote(vec_col)} AS ARRAY<DOUBLE>) AS _ed",
    )
    # one selectExpr / one F.expr: the 3·dim-node projection and the
    # dim-term norm are parsed JVM-side from strings — assembling them
    # Column-by-Column costs ~1.5 s of py4j driver time per call at
    # dim=64 (measured; the parse is <1 ms and the expression tree is
    # identical, pinned by the optimized-plan equality A/B this round)
    flat = cast_once.selectExpr(
        _quote(id_col),
        *map(_quote, extra),
        *_flat_cols("_ed", prefix, dim),
    )
    acc = _dot_sql(prefix, prefix, dim, flat=True)
    # coalesce: Spark declares SQRT nullable unconditionally, and a
    # nullable nrm under a join predicate re-triggers the inferred-filter
    # explosion described above. sqrt(sum of squares) is never null here.
    return flat.withColumn("nrm", F.expr(f"COALESCE(SQRT({acc}), 0.0D)"))


def _flat_cols(arr: str, prefix: str, dim: int) -> list[str]:
    """The ``dim`` scalar columns ``<prefix>1 .. <prefix><dim>`` of the
    double-array column ``arr`` as ``selectExpr`` strings, each
    ``COALESCE``d to non-nullable (see :func:`_flat`)."""
    return [
        f"COALESCE(element_at({arr}, {i}), 0.0D) AS {prefix}{i}"
        for i in range(1, dim + 1)
    ]


def _flat_dot(prefix_a: str, prefix_b: str, dim: int) -> Column:
    return F.expr(_dot_sql(prefix_a, prefix_b, dim, flat=True))


def cosine_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    n_parts: int | None = None,
) -> DataFrame:
    """All pairs ``(vec_a, vec_b, sim)`` with ``vec_a < vec_b`` and cosine
    ``sim >= threshold``. Brute force — the exact baseline/verifier.

    With ``dim`` given, vectors are flattened to scalar columns below the
    join (see ``_flat``); the fold order (``0.0 + t1 + t2 + ...``) is
    identical in both paths, so results are bit-identical.

    ``n_parts`` sizes the codegen-boundary exchange below (VERDICT r3
    #6); it defaults to the local ``defaultParallelism``, which is right
    for the single-node verifier role — cluster callers should pass
    their target parallelism explicitly."""
    # on both paths: the multiplied-form predicate below admits
    # zero-norm vectors (0 >= 0), and the division fails under ANSI
    df = _nonzero(df, vec_col)
    if dim is not None:
        # The repartition is a deliberate codegen boundary, not a data
        # movement need: fused scan+flatten+join exceeds Janino's method
        # limit and silently falls back to interpreted eval (~5x slower).
        # The exchange carries one flat row per INPUT vector — O(N), noise
        # next to the O(N^2) join it feeds.
        # Fixed partition count: an AQE-coalescible exchange would shrink
        # the tiny flat side to 1 partition and serialize the O(N^2) join.
        nparts = n_parts or df.sparkSession.sparkContext.defaultParallelism
        fa = (
            _flat(df, id_col, vec_col, dim, "_a")
            .withColumnRenamed(id_col, "vec_a")
            .repartition(nparts, "vec_a")
        )
        fb = (
            _flat(df, id_col, vec_col, dim, "_b")
            .withColumnRenamed(id_col, "vec_b")
            .repartition(nparts, "vec_b")
        )
        # Selection uses the MULTIPLIED form dot >= t*|a|*|b| (norms are
        # positive), not sim >= t: the division is nullable (x/0 -> NULL
        # in non-ANSI mode), and a predicate over it makes Catalyst infer
        # an isnotnull(<full unrolled chain>) filter pushed to the scan —
        # re-inlining the cast per term and overflowing Janino's 64KB
        # limit. All multiplied-form operands are non-nullable, so no
        # constraint is inferred. The oracle mirrors the same form so the
        # selected set stays bit-identical.
        dotc = _flat_dot("_a", "_b", dim)
        sim = dotc / (fa["nrm"] * fb["nrm"])
        return (
            fa.join(
                fb,
                (F.col("vec_a") < F.col("vec_b"))
                & (dotc >= F.lit(threshold) * fa["nrm"] * fb["nrm"]),
            )
            .select("vec_a", "vec_b", sim.alias("sim"))
        )
    e = with_norm(df.select(_quote(id_col), _quote(vec_col)), vec_col=vec_col)
    a = e.selectExpr(f"{_quote(id_col)} AS vec_a", "emb_d AS _ea", "nrm AS _na")
    b = e.selectExpr(f"{_quote(id_col)} AS vec_b", "emb_d AS _eb", "nrm AS _nb")
    sim = dot("_ea", "_eb") / (F.col("_na") * F.col("_nb"))
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", sim.alias("sim"))
        .filter(F.col("sim") >= threshold)
    )


def cosine_topk(
    df: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Exact top-k neighbors for each query id: ``(query_id, neighbor_id,
    sim)``, deterministic (tie-break on neighbor id).

    The query side is filtered then broadcast; the corpus side streams
    through a single scan. The per-query top-k is a rank window partitioned
    by query — k rows per query survive. With ``dim`` given, both sides are
    flattened to scalar columns (see ``_flat``) for codegen'd scoring.
    """
    df, key = _nonzero(df, vec_col), F.col(_quote(id_col))
    if dim is not None:
        e = _flat(df, id_col, vec_col, dim, "_a")
        q = (
            _flat(df, id_col, vec_col, dim, "_b")
            .filter(key.isin(query_ids))
            .withColumnRenamed(id_col, "query_id")
            .withColumnRenamed("nrm", "q_nrm")
        )
        sim = _flat_dot("_b", "_a", dim) / (F.col("q_nrm") * F.col("nrm"))
        scored = e.join(
            F.broadcast(q), F.col("query_id") != key
        ).select("query_id", key.alias("neighbor_id"), sim.alias("sim"))
        return release_on_drop(
            top_k_per(
                scored, "query_id", "sim DESC, neighbor_id ASC", k
            ).select("query_id", "neighbor_id", "sim")
        )
    e = with_norm(
        df.select(key, F.col(_quote(vec_col))), vec_col=vec_col
    ).select(key, "emb_d", "nrm")
    q = e.filter(key.isin(query_ids)).select(
        key.alias("query_id"),
        F.col("emb_d").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    sim = dot("q_emb", "emb_d") / (F.col("q_nrm") * F.col("nrm"))
    scored = (
        e.join(F.broadcast(q), F.col("query_id") != key)
        .select(
            "query_id",
            key.alias("neighbor_id"),
            sim.alias("sim"),
        )
    )
    return release_on_drop(
        top_k_per(scored, "query_id", "sim DESC, neighbor_id ASC", k).select(
            "query_id", "neighbor_id", "sim"
        )
    )


def hyperplane_signatures(
    df: DataFrame,
    dim: int,
    num_planes: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Random-hyperplane LSH signature (one int, ``num_planes`` bits).

    Hyperplane coefficients are a deterministic pseudo-random stream
    (sin-based, seeded) materialized as plan literals — every executor sees
    identical planes without any broadcast variable.

    The ``array<double>`` cast is materialized in its OWN projection and
    the ``num_planes`` HOF dot folds run over the materialized column —
    one cast per row, not one per plane (the last instance of the
    HOF-recompute family; pinned by a plan test). Deliberately NOT the
    fully-unrolled flat-column form used for pairwise scoring: unrolling
    ``num_planes * dim`` literal multiply-adds was measured to bloat the
    plan to ~1.4 MB task binaries and add ~6 s of one-off Catalyst +
    Janino compile time at bench scale for zero runtime win (the fold
    work is O(planes*dim) either way and signatures are computed once
    per row, below any join).
    """
    cols = (_quote(id_col), _quote(vec_col))
    cast_once = df.selectExpr(*cols, f"CAST({cols[1]} AS ARRAY<DOUBLE>) AS _ed")
    sig = _hyperplane_sig("_ed", dim, num_planes, seed)
    return cast_once.selectExpr(*cols, f"{sig} AS bucket")


def _hyperplane_sig(ed: str, dim: int, num_planes: int, seed: int) -> str:
    """SQL text for the ``num_planes``-bit hyperplane signature of the
    materialized ``array<double>`` column ``ed`` — the expression body
    of :func:`hyperplane_signatures`, factored so the multi-TABLE lever
    in :func:`lsh_bucketed_topk` can emit one signature per
    (seed-offset) table over a single cast (same plane stream, same bit
    packing). Each plane is one ``array`` of ``repr(float)`` ``…D``
    literals (exact round trip), folded into one literal by the
    optimizer; parsed, a signature costs a few py4j calls where the
    ``F.lit`` planes cost ~150 per plane."""
    bits = []
    for p in range(num_planes):
        plane = ", ".join(
            f"{math.sin(seed + p * 1009 + i * 9176)!r}D" for i in range(dim)
        )
        bits.append(
            f"CASE WHEN {_dot_sql(ed, f'array({plane})')} >= 0 "
            f"THEN shiftleft(1, {p}) ELSE 0 END"
        )
    return " | ".join(bits)


def lsh_bucketed_topk(
    df: DataFrame,
    query_ids: list[int],
    k: int = 5,
    dim: int = 64,
    num_planes: int = 12,
    n_tables: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's hyperplane
    bucket (equi-join on ``bucket``), exact cosine re-rank within.

    The 100 TB shape: corpus shuffled once by short bucket key; no cross
    join. Recall is tunable via ``num_planes`` (fewer planes → bigger
    buckets → higher recall, more compute).

    ``n_tables`` is the OTHER recall lever — the classic multi-table
    OR-construction (Indyk & Motwani 1998; the standard response to the
    round-12 measurement that single-table recall at the registered 8
    planes is only ~0.13 on weakly-clustered corpora, and FALLS as
    planes rise): hash every row into ``n_tables`` independent plane
    sets (seed-offset ``seed + t * 7919``; table 0 is the single-table
    plane set of :func:`hyperplane_signatures`), candidate when query
    and corpus row share a bucket in ANY table, then (with more than
    one table) de-duplicate the candidate pairs before the exact
    re-rank so a row found by several tables ranks once. Candidate
    sets are nested in ``n_tables`` (each table only ADDS pairs), so
    recall@k is monotone non-decreasing in it — pinned in tests, and
    the measured curve lives in BASELINE.md. Cost: signatures and the
    bucket join scale ×``n_tables`` on the corpus side; the join key
    grows to ``(table, bucket)`` — still one shuffle by a short key.

    The re-rank keeps the HOF dot over the materialized ``emb_d`` column
    rather than the flat-column form: within-bucket candidate counts are
    small (that is the operator's point), so per-candidate array zipping
    is cheap, while the flat form's 2x64 unrolled columns through the
    join were measured to cost ~6 s of one-off plan-compile time at
    bench scale.
    """
    if n_tables < 1:
        raise ValueError(f"n_tables must be >= 1, got {n_tables}")
    df = _nonzero(df, vec_col)
    # ONE cast + norm pass emits every table's signature (table t's
    # planes come from seed + t*7919), exploded to (id, t, bucket)
    key = _quote(id_col)
    base = with_norm(df.select(key, _quote(vec_col)), vec_col=vec_col)
    tables = ", ".join(
        f"struct({t} AS t, "
        f"{_hyperplane_sig('emb_d', dim, num_planes, seed + t * 7919)} AS bucket)"
        for t in range(n_tables)
    )
    e = base.selectExpr(key, "emb_d", "nrm", f"inline(array({tables}))")
    q = e.filter(F.col(key).isin(query_ids)).select(
        F.col(key).alias("query_id"),
        F.col("t").alias("q_t"),
        F.col("bucket").alias("q_bucket"),
        F.col("emb_d").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    sim = dot("q_emb", "emb_d") / (F.col("q_nrm") * F.col("nrm"))
    scored = e.join(
        F.broadcast(q),
        (F.col("q_t") == F.col("t"))
        & (F.col("q_bucket") == F.col("bucket"))
        & (F.col("query_id") != F.col(key)),
    ).select("query_id", F.col(key).alias("neighbor_id"), sim.alias("sim"))
    if n_tables > 1:
        # a pair found by several tables carries IDENTICAL sim on every
        # copy (same vectors) — keep one so the rank window counts each
        # neighbor once
        scored = scored.dropDuplicates(["query_id", "neighbor_id"])
    return release_on_drop(
        top_k_per(scored, "query_id", "sim DESC, neighbor_id ASC", k).select(
            "query_id", "neighbor_id", "sim"
        )
    )


def _bounded_training_sample(
    e: DataFrame, id_col: str, cap: int, n_rows: int | None = None
) -> DataFrame:
    """At most ~``cap`` rows for iterative model fits, deterministically.

    A modulus filter on ``xxhash64(id)`` rather than ``sample()``: the
    kept set depends only on the data (not on partitioning or a per-run
    RNG stream), so fits are reproducible across cluster layouts.

    ``n_rows`` is the corpus size used to derive the modulus. Callers that
    know it from source metadata (parquet footers — see
    ``sources.io.parquet_row_count``) should pass it so deriving the
    sample costs ZERO cluster jobs; only when absent does this fall back
    to an eager one-column ``count()`` (an extra job per fit —
    VERDICT r2 #6).
    """
    key = F.col(_quote(id_col))
    n = e.select(key).count() if n_rows is None else n_rows
    if n <= cap:
        return e
    modulus = -(-n // cap)  # ceil → keep ~cap rows
    return e.filter(F.pmod(F.xxhash64(key), F.lit(modulus)) == 0)


def _finite_centroids(centroids: list[list[float]]) -> list[list[float]]:
    """Refuse a centroid with a NaN/inf coordinate, naming its cell: no
    row has a finite distance to it, and rendered as a SQL literal it
    would fail far from the cause (``nanD`` is not a literal)."""
    for i, c in enumerate(centroids):
        if not all(math.isfinite(x) for x in c):
            raise ValueError(
                f"centroid of cell {i} has a non-finite coordinate — "
                "the quantizer fit diverged or the pinned centroids are "
                "corrupt; refit (ivf_build / embedding_store_rebuild)"
            )
    return centroids


def _sq_l2_sql(a: str, b: str) -> str:
    """Squared L2 between two equal-length double arrays as SQL text
    over the SQL expressions ``a`` and ``b``, left-fold ``((0.0 +
    (a1-b1)²) + (a2-b2)²) + ...``: the one squared-L2 kernel of cell
    assignment and of PQ encoding, lookup tables and re-ranking."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
        "0.0D, (acc, x) -> acc + x)"
    )


def _centroid_matrix(centroids: list[list[float]]) -> str:
    """The centroids as SQL text for ONE ``array<array<double>>``
    value (``element_at(matrix, cell + 1)`` is a cell's centroid): a
    JSON string literal under ``from_json``, which ConstantFolding
    turns into a literal matrix, so no ``from_json`` runs.
    ``repr(float)`` round-trips doubles exactly (pinned by
    ``float.hex``). As k·dim ``…D`` literals in nested ``array(...)``
    calls the matrix parsed in ~1.5 ms but cost ~60 ms of analysis per
    call at 16×32 (warm JVM, 4 vCPU); with the one literal,
    :func:`assign_cells`'s whole distance expression analyzes in ~10
    ms. A non-finite centroid is refused first: JSON has no literal
    for it."""
    rows = ",".join(
        "[" + ",".join(repr(float(x)) for x in c) + "]"
        for c in _finite_centroids(centroids)
    )
    return f"from_json('[{rows}]', 'array<array<double>>')"


def assign_cells(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    with_dist: bool = False,
    check_cells: int = 1,
) -> DataFrame:
    """Add ``cell int``: index of the nearest centroid by squared L2,
    FIRST minimum on ties (deterministic — a pure function of the
    vector and the centroid list). The one kernel that ranks rows
    against driver-side centroids: IVF and IVF-PQ search probe with it
    and the embedding store assigns with it. One narrow pass over the
    parsed centroid matrix (``_centroid_matrix``, which refuses a
    non-finite centroid), k x dim left-fold ``(x-y)²`` multiply-adds
    per row (``_sq_l2_sql``) — this runs once per INPUT row; the
    per-PAIR hot path downstream uses the flat-column scoring. Every
    expression is parsed from SQL text, so building the plan costs a
    handful of py4j calls whatever k and dim are.
    ``with_dist`` also emits ``cell_dist double`` (the squared L2 to
    the winning centroid — the assignment metric itself, so the
    store's drift diagnostic measures exactly what assignment
    optimizes) and ``cell_dist2 double`` (to the RUNNER-UP centroid;
    NULL with a single centroid) — the boundary-margin diagnostic's
    raw input. ``check_cells`` = p > 1 also emits ``cells
    array<int>``: the p nearest centroid indices in distance order,
    ties broken by LOWER index (so ``cells[0] == cell`` always — the
    same first-minimum rule, pinned in tests); capped at the centroid
    count. This is IVF's n_probe: a query probes its p nearest cells,
    and a store PROBE row checks them while stored rows keep living
    in exactly one."""
    p = max(1, int(check_cells))
    if not centroids:
        out = df.withColumn("cell", F.lit(0).cast("int"))
        if p > 1:
            out = out.withColumn("cells", F.array(F.lit(0).cast("int")))
        if with_dist:
            out = out.withColumn("cell_dist", F.lit(0.0)).withColumn(
                "cell_dist2", F.lit(None).cast("double")
            )
        return out
    k = len(centroids)
    # materialize the k-vector ONCE per row; the argmin, min, runner-up
    # and top-p all read it (inlining it more than once would multiply
    # the k x dim work). The scratch column names are namespaced so a
    # caller frame that happens to carry a same-named column is never
    # clobbered then dropped (round-11 self-review).
    scratch, scratch2 = "__bdhs_assign_dists", "__bdhs_assign_ranked"
    while scratch in df.columns:
        scratch += "_"
    while scratch2 in df.columns:
        scratch2 += "_"
    vec = f"CAST({_quote(vec_col)} AS ARRAY<DOUBLE>)"
    # the centroid lambda variable borrows the scratch name: absent from
    # the caller's columns, it cannot shadow the one ``vec`` reads
    out = df.withColumn(
        scratch,
        F.expr(
            f"transform({_centroid_matrix(centroids)}, "
            f"{scratch} -> {_sq_l2_sql(vec, scratch)})"
        ),
    )
    cols = {
        "cell": f"CAST(array_position({scratch}, array_min({scratch})) - 1 AS INT)"
    }
    if p > 1:
        # (distance, index) struct sort: lexicographic — distance
        # ascending, index ascending on ties, so element 1 is exactly
        # the argmin rule above. Materialized like `scratch` so the
        # top-p slice AND the runner-up distance below read ONE sort
        # per row (round-12 review: cell_dist2 previously re-sorted
        # the k-vector a second time).
        cols[scratch2] = (
            f"array_sort(transform({scratch}, (d, i) -> struct(d AS d, i AS i)))"
        )
    out = out.withColumns({c: F.expr(e) for c, e in cols.items()})
    cols = {}
    if p > 1:
        cols["cells"] = (
            f"transform(slice({scratch2}, 1, {min(p, k)}), s -> CAST(s.i AS INT))"
        )
    if with_dist:
        cols["cell_dist"] = f"array_min({scratch})"
        if k < 2:
            cols["cell_dist2"] = "CAST(NULL AS DOUBLE)"
        elif p > 1:
            # the struct sort's 2nd element carries the 2nd-smallest
            # distance (d is the primary sort key, so the d components
            # come out as the sorted multiset)
            cols["cell_dist2"] = f"element_at({scratch2}, 2).d"
        else:
            cols["cell_dist2"] = f"element_at(array_sort({scratch}), 2)"
    if cols:
        out = out.withColumns({c: F.expr(e) for c, e in cols.items()})
    return out.drop(scratch, scratch2)


@dataclass
class IVFIndex:
    """A built IVF index: driver-side centroids (``n_cells × dim`` floats
    — tiny) plus the cell-assigned corpus frame ``(id, cell, emb_d,
    nrm)``. Build once with :func:`ivf_build`, search many times with
    :func:`ivf_search` — no refit per query batch (VERDICT r3 #2).

    Searches score against the index's SERVING COPY
    (:meth:`serving`), which the first search fills: the assignment
    flattened to ``(id, cell, nrm, _a1.._a<dim>)`` over the ``nrm > 0``
    rows, persisted, so a batch neither re-reads the table nor
    re-decodes its arrays. A search reads its query batch when it is
    called and, while the batch is serving-sized, inlines the probed
    queries into its plan as one literal, so each batch is one job over
    the copy, with no broadcast and no join (:func:`_ivf_search_core`).
    Once the index is dropped, the next search or build unpersists the
    copy."""

    centroids: list[list[float]]
    assigned: DataFrame
    id_col: str
    _serving: DataFrame | None = field(
        default=None, init=False, repr=False, compare=False
    )

    def serving(self) -> DataFrame:
        """The serving copy, persisted on first use (filled by the
        first job that reads it). It is coalesced to ``ceil(size /
        spark.sql.adaptive.advisoryPartitionSizeInBytes)`` partitions,
        at least 1: an index under the advisory size (64 MB by default;
        the 10,000×32 benchmark index is estimated at ~17 MB) is one
        partition, whose scan already satisfies the per-query top-k
        window's clustering, so a search plans no exchange. The size is
        the optimizer's estimate; an index it cannot size (one over a
        Python-side frame is estimated at ~1e20 bytes) is filled into
        a first copy, and the served copy is cut from it by the size
        that copy measures in memory (two jobs, once). A tag predicate
        ``n = n`` (folded away before the copy is filled) keeps every
        copy's plan distinct: the cache matches plans by result, so two
        indexes over one table would otherwise share an entry, and
        dropping either would unpersist the other's copy. Released
        when the index is dropped (every cached entry adds plan
        matching to each later query of the session): its
        ``weakref.finalize`` only queues the copy, and the next
        ``serving`` access or :func:`ivf_build` unpersists it — Python's
        collector can run a finalizer in the middle of another py4j
        call on this thread's connection. A local checkpoint would need
        neither tag nor finalizer and serves as fast, but it is not
        released when the index is dropped (its blocks wait for the
        JVM's cleaner, which had not run 20 s after a drop and a
        ``System.gc()``), and it cuts the lineage: once a block is
        lost, every later search fails instead of recomputing it from
        ``assigned``."""
        _release_dropped()
        if self._serving is None:
            tag = next(_SERVING_TAGS)
            # zero-norm rows: NULL sims are unrankable (see _nonzero)
            flat = self.assigned.where(f"nrm > 0 AND {tag} = {tag}").selectExpr(
                _quote(self.id_col), "cell", "nrm",
                *_flat_cols("emb_d", "_a", len(self.centroids[0])),
            )
            parts, filled = _partitions_for(flat), None
            if parts >= 2**31:  # more than a Java int: no estimate
                filled = flat.persist()
                filled.count()
                # a new plan: flat's own was optimized before the fill
                parts = _partitions_for(filled.select("*"))
            self._serving = flat.coalesce(parts).persist()
            if filled is not None:
                self._serving.count()  # read from the first copy
                filled.unpersist()
            drop = weakref.finalize(self, _DROPPED.append, self._serving)
            drop.atexit = False  # the session may be gone at exit
        return self._serving


#: Tags that keep serving copies' cached plans distinct (IVFIndex.serving).
_SERVING_TAGS = itertools.count(1)

#: Serving copies of dropped indexes, waiting to be unpersisted.
_DROPPED: collections.deque = collections.deque()


def _release_dropped() -> None:
    """Unpersist the queued serving copies of dropped indexes; an empty
    queue costs no py4j call."""
    while True:
        try:
            df = _DROPPED.popleft()
        except IndexError:
            return
        if df.sparkSession.sparkContext._jsc is not None:
            df.unpersist()  # else the session stopped: its cache went with it


def _partitions_for(df: DataFrame) -> int:
    """``ceil(optimized size / advisory partition size)``, at least 1."""
    spark = df.sparkSession
    size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    to_bytes = spark._jvm.org.apache.spark.network.util.JavaUtils
    advisory = to_bytes.byteStringAsBytes(
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    )
    return max(1, -(-int(size) // advisory))


def ivf_build(
    df: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    train_cap: int = 100_000,
    max_iter: int = 8,
    n_rows: int | None = None,
    table: str | None = None,
    buckets: int = 16,
) -> IVFIndex:
    """Fit the IVF coarse quantizer ONCE and assign every corpus vector
    to its cell.

    ``max_iter`` defaults to 8: a coarse quantizer does not need full
    convergence (recall is governed by ``n_probe``), and every KMeans
    iteration is a full pass over the training sample plus a driver
    round-trip — at bench scale iteration overhead WAS the probe's cost
    (maxIter=20: 4.1s fit; 8: 1.3s; assignment itself 0.1s).

    The 100 TB shape: training runs on a bounded sample of at most
    ``train_cap`` rows (KMeans state = n_cells centroids, tiny) — the
    iterative fit never touches the full corpus. Assignment is one narrow
    pass. ``n_rows`` (corpus size, e.g. from parquet footer metadata)
    makes the pre-fit sampling job-free — see
    ``_bounded_training_sample``.

    ``table`` persists the assignment as a parquet table bucketed by
    ``cell`` (``sources.io.write_bucketed``) and reads it back, so every
    subsequent ``ivf_search`` scans pre-assigned storage instead of
    re-deriving assignment per query batch — the fit-once / search-many
    serving shape.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    global IVF_FIT_COUNT

    _release_dropped()
    key, vec = F.col(_quote(id_col)), F.col(_quote(vec_col))
    e = df.select(key, vec).withColumn("_v", array_to_vector(_as_double(vec)))
    train = _bounded_training_sample(e, id_col, train_cap, n_rows=n_rows)
    # KMeans.fit aborts on an empty dataset and on k > n. Clamp k to the
    # rows actually available: with n_rows known this is arithmetic
    # (n_rows <= cap means the sample IS the corpus; n_rows > cap means
    # the sample is ~cap >> n_cells); without it, a LIMIT-k count that
    # short-circuits after n_cells rows — not a corpus scan.
    if n_rows is not None and n_rows <= train_cap:
        available = min(n_rows, n_cells)  # sample IS the corpus
    elif n_rows is not None and n_cells * 4 <= train_cap and train_cap >= 1000:
        # Sampled path: the kept-row count is binomial with mean ~cap.
        # The skip needs BOTH relative headroom (>=4x) and an absolute
        # margin (cap >= 1000): at small caps the binomial spread is wide
        # enough that the sample can dip below n_cells with non-negligible
        # probability (ADVICE r4) — fall through to the cheap LIMIT-count.
        available = n_cells
    else:
        available = train.limit(n_cells).count()
    if available <= 1:
        # No fit: an empty corpus has no cells, and with one training
        # row (this Spark's KMeans rejects k=1 anyway) the one cell's
        # centroid IS the sampled vector. ORDERED (review finding): with
        # n_cells=1 over a multi-row corpus an unordered limit(1)
        # returned an arbitrary partition's first row, so the persisted
        # centroid depended on cluster layout; min-id is deterministic
        # (the k=1 centroid is a representative, not a mean — recall is
        # governed by n_probe).
        centroids = []
        if available == 1:
            (row,) = train.orderBy(key).limit(1).select("_v").collect()
            centroids = [[float(x) for x in row._v.toArray()]]
        assigned = with_norm(e, vec_col=vec_col).select(
            key, F.lit(0).alias("cell"), "emb_d", "nrm"
        )
    else:
        model = KMeans(
            k=min(n_cells, available), seed=seed, featuresCol="_v",
            predictionCol="cell", maxIter=max_iter,
        ).fit(train)
        IVF_FIT_COUNT += 1
        assigned = with_norm(model.transform(e), vec_col=vec_col).select(
            key, "cell", "emb_d", "nrm"
        )
        centroids = [[float(x) for x in c] for c in model.clusterCenters()]
    # the empty index persists too: a serving job's ivf_load/spark.table
    # must not fail just because an input partition happened to be empty
    if table is not None:
        from big_data_hadoop_spark.sources.io import write_bucketed

        write_bucketed(assigned, table, buckets, key="cell")
        assigned = df.sparkSession.table(table)
    return IVFIndex(centroids, assigned, id_col)


def _ivf_empty_result(index: IVFIndex, id_type) -> DataFrame:
    """A search result with no rows."""
    return index.assigned.sparkSession.range(1).select(
        F.lit(None).cast(id_type).alias("query_id"),
        F.lit(None).cast(index.assigned.schema[index.id_col].dataType)
        .alias("neighbor_id"),
        F.lit(None).cast("double").alias("sim"),
    ).where("false")


def _probe_cells(
    q: DataFrame, centroids: list[list[float]], vec_col: str, n_probe: int
) -> DataFrame:
    """``q`` once per probed cell, in ``q_cell``: the ``n_probe``
    nearest centroids by the :func:`assign_cells` rule (squared L2,
    lower index on ties). A per-row sort — nothing shuffles before the
    broadcast join; ``n_probe < 1`` probes nothing."""
    ranked = assign_cells(q, centroids, vec_col=vec_col, check_cells=n_probe)
    cells = "cells" if n_probe > 1 else "array(cell)"
    probed = ranked.selectExpr(
        *map(_quote, q.columns), f"explode({cells}) AS q_cell"
    )
    return probed if n_probe >= 1 else probed.where("false")


def _rank_cells(
    embs: list[list[float]], centroids: list[list[float]], p: int
) -> tuple[list[float], list[list[int]]]:
    """The norm of each query vector in ``embs`` and its ``p`` nearest
    cells, computed on the driver by the rules of :func:`_norm_sql` and
    :func:`assign_cells`: squared L2 and squared norm as the same left
    fold (``cumsum`` adds in order, and ``0.0 + t`` is ``t`` for the
    non-negative terms, so both are bit-equal to the SQL folds), cells
    sorted by distance, then by lower index, with NaN distances last as
    in Spark's ordering; a non-finite centroid raises ``ValueError``
    naming its cell (:func:`_finite_centroids`). For the few dozen rows
    of a serving batch this costs well under a millisecond, where the
    same ranking as a SQL projection is evaluated row by row,
    interpreted, when the optimizer folds it into a ``LocalRelation``."""
    import numpy as np

    c = np.asarray(_finite_centroids(centroids), dtype=np.float64)
    if not embs:
        return [], []
    e = np.asarray(embs, dtype=np.float64)
    with np.errstate(all="ignore"):  # inf and NaN propagate as in Spark
        norms = np.sqrt(np.cumsum(e * e, axis=1)[:, -1])
        diff = e[:, None, :] - c[None, :, :]
        d = np.cumsum(diff * diff, axis=2)[:, :, -1]
    nan = np.isnan(d)
    idx = np.broadcast_to(np.arange(d.shape[1]), d.shape)
    order = np.lexsort((idx, np.where(nan, 0.0, d), nan), axis=-1)[:, :p]
    return [float(n) for n in norms], order.tolist()


#: Probed doubles (live queries × probed cells × dim) up to which an IVF
#: search batch enters its plan as one literal; a larger batch is
#: broadcast and joined on the cell instead (:func:`_ivf_search_core`).
#: The literal's cost grows with its size (folding, Java serialization
#: of the task, rendering for the plan description), the broadcast's
#: barely: at 10,000×32, 16 cells and n_probe 4 (4 vCPU) the literal
#: batch cost less CPU than the broadcast at 32 queries and more at 128.
_LITERAL_DOUBLES = 8192

#: ``to_json`` / ``from_json`` options of the IVF query literal: a
#: timestamp id keeps its microseconds (the default format writes
#: milliseconds), and a literal that fails to parse raises instead of
#: becoming NULL, which would drop every candidate of the batch.
_JSON_OPTS = "map({})".format(", ".join(map(_literal, (
    "mode", "FAILFAST",
    "timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
    "timestampNTZFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
))))


def _ivf_search_core(
    index: IVFIndex,
    q: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    n_probe: int,
    exclude_self: bool,
    op: str,
) -> DataFrame:
    """Shared IVF search of the query rows ``(id_col, vec_col)`` of
    ``q``. The batch is READ WHEN THE CALL IS MADE: its ids (as
    ``to_json``) and vectors (cast to ``array<double>``) are collected,
    which over a driver-local batch (``local_frame``, an Arrow
    ``createDataFrame``) runs no Spark job, and each query's norm and
    probed cells are computed on the driver (:func:`_rank_cells`). A
    query of another width than the index's raises ``ValueError`` here,
    naming both widths; zero-norm queries never rank (see
    :func:`_nonzero`); ``n_probe < 1`` probes nothing and reads nothing.

    A batch of at most :data:`_LITERAL_DOUBLES` probed doubles enters
    the plan as ONE ``from_json`` literal,
    ``array<array<struct<query_id, q_nrm, _b1.._b<dim>>>>`` indexed by
    cell, which ConstantFolding turns into a literal array (as
    :func:`_centroid_matrix`): doubles by ``repr`` (NaN and ±Infinity
    as JSON's non-numeric tokens), the id by Spark's ``to_json``, so it
    keeps the frame's type. Each row of the serving copy
    (:meth:`IVFIndex.serving`) meets the queries that probe its cell
    through ``inline(get(<literal>, cell))``: over a one-partition copy
    a batch is one job, with no broadcast and no join. A larger batch
    is planned as a broadcast of its probed queries equi-joined to the
    copy on the cell (:func:`_joined_queries`), which reads ``q`` again
    when it runs. Either way a candidate pair is scored by :func:`dot`'s
    left fold over flat columns (bit-identical sims). The result
    releases its JVM query when dropped (:func:`release_on_drop`)."""
    from pyspark.sql import types as T

    dim, n_cells = len(index.centroids[0]), len(index.centroids)
    id_type = q.schema[id_col].dataType
    if n_probe < 1:
        return _ivf_empty_result(index, id_type)
    probes = min(n_probe, n_cells)
    rows = q.selectExpr(
        f"to_json(array({_quote(id_col)}), {_JSON_OPTS}) AS id_json",
        f"CAST({_quote(vec_col)} AS ARRAY<DOUBLE>) AS q_emb",
    ).collect()
    for r in rows:  # every row is checked, as the in-plan check did
        if r.q_emb is not None and len(r.q_emb) != dim:
            raise ValueError(
                f"{op}: a query vector has {len(r.q_emb)} dimensions, "
                f"the index has {dim}"
            )
    # a NULL vector or element has a NULL norm: it never ranks
    rows = [r for r in rows if r.q_emb is not None and None not in r.q_emb]
    norms, cells = _rank_cells([r.q_emb for r in rows], index.centroids, probes)
    live = [  # Spark's nrm > 0: NaN passes
        (r, n, c) for r, n, c in zip(rows, norms, cells) if n > 0 or n != n
    ]
    key = _quote(index.id_col)
    if len(live) * probes * dim > _LITERAL_DOUBLES:
        scored = _joined_queries(index, q, id_col, vec_col, n_probe, op)
    else:
        fields = [f'"_b{i}":' for i in range(1, dim + 1)]
        by_cell: list[list[str]] = [[] for _ in range(n_cells)]
        for r, nrm, probed in live:
            # json.dumps writes a float by repr, and NaN and ±inf as
            # the tokens from_json reads; no repr contains ", "
            elems = json.dumps(r.q_emb)[1:-1].split(", ")
            entry = '{"query_id":%s,"q_nrm":%s,%s}' % (
                r.id_json[1:-1], json.dumps(nrm),
                ",".join(map(str.__add__, fields, elems)),
            )
            for c in probed:
                by_cell[c].append(entry)
        doc = "[" + ",".join("[" + ",".join(c) + "]" for c in by_cell) + "]"
        schema = T.ArrayType(T.ArrayType(T.StructType(
            [T.StructField("query_id", id_type),
             T.StructField("q_nrm", T.DoubleType())]
            + [T.StructField(f"_b{i}", T.DoubleType()) for i in range(1, dim + 1)]
        ))).json()
        scored = index.serving().selectExpr(
            "*",
            f"inline(get(from_json({_literal(doc)}, {_literal(schema)}, "
            f"{_JSON_OPTS}), cell))",
        )
    if exclude_self:
        scored = scored.where(f"query_id != {key}")
    scored = scored.selectExpr(
        "query_id", f"{key} AS neighbor_id",
        f"({_dot_sql('_b', '_a', dim, flat=True)}) / (q_nrm * nrm) AS sim",
    )
    return release_on_drop(
        top_k_per(scored, "query_id", "sim DESC, neighbor_id ASC", k).select(
            "query_id", "neighbor_id", "sim"
        )
    )


def _joined_queries(
    index: IVFIndex, q: DataFrame, id_col: str, vec_col: str, n_probe: int,
    op: str,
) -> DataFrame:
    """The serving copy joined to the queries of ``q`` that probe each
    row's cell: ``q``'s probed, flattened ``(query_id, q_nrm,
    _b1.._b<dim>)`` rows broadcast and equi-joined on the cell. The
    large-batch plan of :func:`_ivf_search_core`: the broadcast is one
    job more than the literal, but its cost does not grow with the plan
    text. ``q`` is read when the join runs, so the width check stays in
    the plan."""
    dim = len(index.centroids[0])
    vec = _width_checked(f"CAST({_quote(vec_col)} AS ARRAY<DOUBLE>)", dim, op)
    probed = _probe_cells(
        q.selectExpr(f"{_quote(id_col)} AS query_id", f"{vec} AS q_emb")
        .selectExpr("query_id", "q_emb", f"{_norm_sql('q_emb', None)} AS q_nrm"),
        index.centroids, "q_emb", n_probe,
    ).where("q_nrm > 0").selectExpr(
        "query_id", "q_cell", "q_nrm", *_flat_cols("q_emb", "_b", dim)
    )
    return index.serving().join(F.broadcast(probed), F.expr("cell = q_cell"))


def ivf_search(
    index: IVFIndex,
    query_ids: list[int],
    k: int = 5,
    n_probe: int = 4,
) -> DataFrame:
    """Search a built :class:`IVFIndex` with CORPUS ids as queries (each
    query excludes itself from its neighbors). Recall is tuned by
    ``n_probe``/``n_cells``; ``n_probe = n_cells`` degrades to exact. NO
    KMeans fit happens here — repeated searches reuse the index as-is.
    The query rows are read from the index's assignment when the call
    is made (one job), and enter the search plan as one literal while
    the batch is serving-sized (:func:`_ivf_search_core`)."""
    assigned, id_col = index.assigned, index.id_col
    if not index.centroids:
        return _ivf_empty_result(index, assigned.schema[id_col].dataType)
    q = assigned.filter(F.col(_quote(id_col)).isin(query_ids))
    return _ivf_search_core(
        index, q, id_col, "emb_d", k, n_probe, exclude_self=True, op="ivf_search"
    )


def ivf_search_vectors(
    index: IVFIndex,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "query_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Search a built :class:`IVFIndex` with EXTERNAL query vectors — the
    serving shape: queries arrive as ``(id, embedding)`` rows that are
    NOT part of the indexed corpus (no self-exclusion), e.g. a batch of
    fresh documents to link against the training set. Same plan as
    :func:`ivf_search`: the batch is READ WHEN THE CALL IS MADE (no
    Spark job for a driver-local batch such as ``local_frame``), each
    query ranks the centroids by the :func:`assign_cells` rule (on the
    driver while the batch is serving-sized; a non-finite centroid
    raises ``ValueError`` naming its cell), and each row of the index's
    serving copy meets the queries that probe its cell: exact cosine
    re-rank. A serving-sized batch enters the plan as one literal, one
    job per batch; a larger one is broadcast and joined on the cell
    (:func:`_ivf_search_core`). A query vector whose width differs from
    the index's raises ``ValueError`` naming both widths when the call
    is made."""
    if not index.centroids:
        return _ivf_empty_result(index, queries.schema[id_col].dataType)
    return _ivf_search_core(
        index, queries, id_col, vec_col, k, n_probe, exclude_self=False,
        op="ivf_search_vectors",
    )


def ivf_topk(
    df: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    train_cap: int = 100_000,
    max_iter: int = 8,
    n_rows: int | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k, one-shot form: KMeans
    partitions the corpus into ``n_cells`` cells; each query searches only
    its ``n_probe`` nearest cells with an exact cosine re-rank inside.
    Exactly ``ivf_search(ivf_build(...), ...)`` — use those directly for
    the fit-once / search-many serving shape (VERDICT r3 #2)."""
    index = ivf_build(
        df, n_cells=n_cells, id_col=id_col, vec_col=vec_col, seed=seed,
        train_cap=train_cap, max_iter=max_iter, n_rows=n_rows,
    )
    return ivf_search(index, query_ids, k=k, n_probe=n_probe)


def cosine_topk_vectors(
    df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k corpus neighbors for EXTERNAL query vectors — the
    brute-force twin of :func:`ivf_search_vectors` (and the exact
    verifier for it): queries arrive as ``(id, embedding)`` rows not
    part of the corpus, so there is no self-exclusion. The query batch
    is broadcast; the corpus streams through one scan; a rank window per
    query keeps k rows, tie-broken on neighbor id. A pair of query and
    corpus vectors of different widths fails the search with an error
    naming both widths: a wrong-width query, or a malformed corpus row,
    has no cosine."""
    df = _nonzero(df, vec_col)
    queries = _nonzero(queries, query_vec_col)
    key = _quote(id_col)
    e = with_norm(df.select(key, _quote(vec_col)), vec_col=vec_col).select(
        key, "emb_d", "nrm"
    )
    q = with_norm(queries, vec_col=query_vec_col).select(
        F.col(_quote(query_id_col)).alias("query_id"),
        F.col("emb_d").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    q_emb = _width_checked(
        "q_emb", "size(emb_d)", "cosine_topk_vectors", "a corpus vector"
    )
    sim = F.expr(_dot_sql(q_emb, "emb_d")) / (F.col("q_nrm") * F.col("nrm"))
    scored = e.join(F.broadcast(q)).select(
        "query_id", F.col(key).alias("neighbor_id"), sim.alias("sim")
    )
    return release_on_drop(
        top_k_per(scored, "query_id", "sim DESC, neighbor_id ASC", k).select(
            "query_id", "neighbor_id", "sim"
        )
    )


def topk_recall_audit(
    exact: DataFrame,
    approx: DataFrame,
    query_col: str = "query_id",
    neighbor_col: str = "neighbor_id",
) -> tuple[DataFrame, dict]:
    """MEASURE an ANN tier's recall@k against its exact brute-force
    twin instead of trusting the index parameters — the q92 /
    embedding-store-audit discipline extended to the RETRIEVAL tiers:
    feed the same queries to the exact path (``cosine_topk`` /
    ``cosine_topk_vectors``) and the approximate one (``ivf_search``,
    ``lsh_ann``'s bucketed candidates, ``pq_topk``), then count, per
    query, how many of the exact neighbors the approximate result
    found. SET recall (rank-agnostic): both paths use the same
    deterministic tie-break, so a tie-boundary substitution counts as
    a miss — the strictest reading. The tuning loop at 100 TB: exact
    top-k over the full corpus is affordable only on a fixed query
    SAMPLE, which costs the same at every corpus size — audit
    (n_cells, n_probe) / (num_planes) / (m, n_probe) there, then run
    only the ANN tier at scale.

    Returns ``(per_query, summary)``: ``per_query`` =
    ``(query_col, exact_k, hit, recall)`` (one row per query that HAS
    exact neighbors), ``summary`` = ``{"queries": n, "macro_recall":
    mean of per-query recalls, "min_recall": worst query,
    "micro_recall": pooled hits / pooled exact}``. Queries with no
    exact neighbors are excluded (recall undefined); approximate
    neighbors absent from the exact set are impossible when both
    paths verify with exact cosine, and are simply ignored if a
    caller audits an unverified tier."""
    q, n = _quote(query_col), _quote(neighbor_col)
    e = exact.select(F.col(q), F.col(n)).distinct()
    a = approx.select(F.col(q), F.col(n)).distinct()
    hits = e.join(a, [query_col, neighbor_col], "left_semi")
    per_query = (
        e.groupBy(F.col(q))
        .agg(F.count(F.lit(1)).alias("exact_k"))
        .join(
            hits.groupBy(F.col(q)).agg(F.count(F.lit(1)).alias("hit")),
            query_col,
            "left",
        )
        .fillna(0, ["hit"])
        .withColumn("recall", F.col("hit") / F.col("exact_k"))
    )
    row = per_query.agg(
        F.count(F.lit(1)).alias("queries"),
        F.avg("recall").alias("macro"),
        F.min("recall").alias("mn"),
        F.sum("hit").alias("h"),
        F.sum("exact_k").alias("t"),
    ).first()
    summary = {
        "queries": int(row["queries"]),
        "macro_recall": (
            float(row["macro"]) if row["macro"] is not None else 1.0
        ),
        "min_recall": float(row["mn"]) if row["mn"] is not None else 1.0,
        "micro_recall": (
            (int(row["h"]) / int(row["t"])) if row["t"] else 1.0
        ),
    }
    return per_query, summary


def ivf_save(index: IVFIndex, table: str, buckets: int = 16) -> None:
    """Persist a built :class:`IVFIndex` entirely to storage: the cell
    assignment as a parquet table bucketed by ``cell`` (exchange-free
    candidate joins on reload) and the centroids + id column name as a
    one-row metadata table ``<table>_meta`` — nothing lives only in
    driver memory, so a separate serving job can :func:`ivf_load` the
    index without refitting (the fit-once / serve-from-storage shape)."""
    from big_data_hadoop_spark.sources.io import write_bucketed

    spark = index.assigned.sparkSession
    write_bucketed(index.assigned, table, buckets, key="cell")
    from big_data_hadoop_spark.sources.io import local_frame

    meta = local_frame(
        spark,
        [(index.id_col, [[float(x) for x in c] for c in index.centroids])],
        "id_col string, centroids array<array<double>>",
    )
    meta.coalesce(1).write.mode("overwrite").format("parquet").saveAsTable(
        f"{table}_meta"
    )


def ivf_load(spark, table: str) -> IVFIndex:
    """Reload an :func:`ivf_save`-persisted index. The assignment comes
    back as the bucketed table (so cell equi-joins stay exchange-free);
    centroids are a one-row metadata read."""
    row = spark.table(f"{table}_meta").collect()[0]
    centroids = [[float(x) for x in c] for c in row.centroids]
    return IVFIndex(centroids, spark.table(table), row.id_col)


def semantic_neardup_pairs(
    df: DataFrame,
    eps: float = 0.95,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    train_cap: int = 100_000,
    n_rows: int | None = None,
    index: IVFIndex | None = None,
    dim: int | None = None,
    n_parts: int | None = None,
) -> DataFrame:
    """Semantic near-duplicate pairs, SemDeDup-style (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication" — public): cluster the embedding space with the IVF
    coarse quantizer, then compare pairs ONLY within a cell — the
    quadratic is bounded per cell instead of corpus-wide, which is the
    whole scale argument of the method. Pairs straddling a cell boundary
    are missed by construction (the paper's documented approximation;
    ``cosine_neardup_pairs`` is the exact verifier at oracle scale).

    Output ``(id_a, id_b, sim)`` with ``id_a < id_b`` and cosine ``sim
    >= eps``. Zero-norm vectors have no cosine direction and are
    excluded. Pass a prebuilt/loaded ``index`` (:func:`ivf_build` /
    :func:`ivf_load`) to reuse a fit across calls; otherwise one bounded
    KMeans fit runs here.

    Plan shape: the cell self-join is an equi-join on ``cell`` (hot
    cells are the skew lever — raise ``n_cells`` to shrink them), and
    nothing all-pairs exists anywhere. Pass ``dim`` on any serious
    corpus: scoring then runs over flat scalar columns with the
    multiplied-form threshold (``_flat``'s codegen'd multiply-add chain
    — the within-cell pair volume is quadratic per cell, so the ~10x
    flat-vs-HOF scoring gap dominates end-to-end; measured 110s -> 3s
    at sf0.1, n_cells=8). Without ``dim`` the fold-based array path is
    used (correct, oracle-scale only).
    """
    if index is None:
        index = ivf_build(
            df, n_cells=n_cells, id_col=id_col, vec_col=vec_col,
            seed=seed, train_cap=train_cap, n_rows=n_rows,
        )
    key = _quote(index.id_col)
    cells = index.assigned.select(key, "cell")
    if dim is not None:
        # Same boundary reasoning as cosine_neardup_pairs: the
        # fixed-count repartition is the codegen boundary that keeps the
        # fused scan+flatten+join under Janino's method limit.
        nz = _nonzero(df, vec_col)
        nparts = n_parts or df.sparkSession.sparkContext.defaultParallelism
        fa = (
            _flat(nz, id_col, vec_col, dim, "_a")
            .join(cells, id_col)
            .withColumnRenamed(id_col, "id_a")
            .repartition(nparts, "cell")
        )
        # The right side renames BOTH its id and cell columns: the two
        # flat frames share lineage, so a `fa["cell"] == fb["cell"]`
        # predicate resolves to one attribute and collapses to literal
        # true — silently turning the within-cell join into all-pairs
        # (observed: 290s at sf0.1 plus a "trivially true equals
        # predicate" warning). Distinct names force distinct attributes.
        fb = (
            _flat(nz, id_col, vec_col, dim, "_b")
            .join(cells, id_col)
            .withColumnRenamed(id_col, "id_b")
            .withColumnRenamed("cell", "cell_b")
            .withColumnRenamed("nrm", "nrm_b")
            .repartition(nparts, "cell_b")
        )
        dotc = _flat_dot("_a", "_b", dim)
        sim = dotc / (F.col("nrm") * F.col("nrm_b"))
        return (
            fa.join(
                fb,
                (F.col("cell") == F.col("cell_b"))
                & (F.col("id_a") < F.col("id_b"))
                & (dotc >= F.lit(eps) * F.col("nrm") * F.col("nrm_b")),
            )
            .select("id_a", "id_b", sim.alias("sim"))
        )
    a = index.assigned.filter(F.col("nrm") > 0)
    left = a.select(
        F.col(key).alias("id_a"), "cell",
        F.col("emb_d").alias("_ea"), F.col("nrm").alias("_na"),
    )
    right = a.select(
        F.col(key).alias("id_b"), "cell",
        F.col("emb_d").alias("_eb"), F.col("nrm").alias("_nb"),
    )
    sim = dot("_ea", "_eb") / (F.col("_na") * F.col("_nb"))
    return (
        left.join(right, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", sim.alias("sim"))
        .filter(F.col("sim") >= eps)
    )


def semantic_dedup(
    df: DataFrame,
    eps: float = 0.95,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    train_cap: int = 100_000,
    n_rows: int | None = None,
    index: IVFIndex | None = None,
    dim: int | None = None,
    n_parts: int | None = None,
) -> DataFrame:
    """The SemDeDup ACTION: rows of ``df`` surviving semantic dedup —
    each within-cell near-duplicate component keeps exactly its minimum
    id (``dedup.dedup_by_clusters``; the paper keeps the member farthest
    from the cluster centroid — an arbitrary-but-fixed choice there, and
    min-id is this engine's established deterministic canonical rule,
    shared with every other dedup family). Cluster-resolved, so chains
    (a~b, b~c) keep one representative instead of pairwise keep-first
    over-deleting."""
    from big_data_hadoop_spark.operators.dedup import dedup_by_clusters

    pairs = semantic_neardup_pairs(
        df, eps=eps, n_cells=n_cells, id_col=id_col, vec_col=vec_col,
        seed=seed, train_cap=train_cap, n_rows=n_rows, index=index,
        dim=dim, n_parts=n_parts,
    )
    # duplicate_clusters checkpoints its edge frame eagerly, so the flat
    # path's dim-term join tree is analyzed exactly once — without that,
    # round plans nest it repeatedly and the driver OOMs just
    # stringifying them (observed at sf0.1 before the checkpointing).
    return dedup_by_clusters(df, pairs, id_col=id_col)


def grouped_centroids(
    df: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Per-group embedding centroids in LONG form: ``(group_col, j,
    centroid_j)`` with ``j`` the 0-based dimension — the mean-pooling
    primitive behind label prototypes, cluster diagnostics, and
    chunk-to-document embedding rollups.

    ONE aggregation: per group, ``collect_list`` the vectors and fold
    them elementwise with ``aggregate``/``zip_with`` (JVM-side HOFs over
    the already-grouped list — no per-dimension shuffle), then explode
    to long form. The shuffle carries raw vectors once, keyed by group;
    group state is bounded by group size. For VERY large groups prefer
    the two-shuffle explode-by-dimension formulation; at typical
    label/cluster cardinalities this single-pass form wins. Long-form
    output keeps every column scalar (probe §2.8 contract) and is what
    a DuckDB oracle can reproduce exactly modulo float-sum order —
    hence ``centroid_j`` is rounded to 9 decimals on both sides.
    """
    group = _quote(group_col)
    zero = (
        "transform(_vs[0], x -> 0.0D)" if dim is None
        else f"array_repeat(0.0D, {int(dim)})"
    )
    # count the COLLECTED vectors, not the rows: collect_list drops NULL
    # embeddings, and dividing by count(*) would understate the centroid
    # of any group containing a null/uncastable vector (review finding;
    # matches SQL AVG's ignore-null semantics and the DuckDB oracle).
    agg = df.selectExpr(
        group, f"CAST({_quote(vec_col)} AS ARRAY<DOUBLE>) AS _e"
    ).groupBy(F.col(group)).agg(F.collect_list("_e").alias("_vs")).withColumn(
        "_n", F.size("_vs")
    )
    summed = agg.selectExpr(
        group,
        "_n",
        f"aggregate(_vs, {zero}, (acc, v) -> zip_with(acc, v, (a, x) -> a + x))"
        " AS _sum",
    )
    return summed.selectExpr(
        group,
        "posexplode(transform(_sum, s -> round(s / _n, 9))) AS (j, centroid_j)",
    )


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 quantization → ``(<id_col>, scale,
    qvec)`` where ``qvec`` is ``array<tinyint>`` and each component is
    ``round(x / scale)`` with ``scale = max(|x|) / 127`` — the
    standard 4× storage/bandwidth compression tier for embedding
    serving, one notch simpler than this module's PQ (which trades
    more accuracy for 32×). Dequantize with
    :func:`dequantize_embeddings`; reconstruction error is bounded by
    ``scale / 2`` per component, and cosine degradation on real
    embeddings is negligible (pinned ≥ 0.999 in tests against a numpy
    replication).

    All-native column expressions (``array_max``/``transform`` HOFs,
    no Python): at 100 TB the quantized table is what ships to the
    ANN tier, and the quantization itself is a narrow map — no
    shuffle. The scale is computed ONCE in a staging projection and
    referenced by name inside the transform — embedding the
    array_max subtree in the lambda would re-evaluate it per element
    (HOFs are interpreted, no subexpression elimination: O(d²) per
    row; review finding). A zero vector has no direction; its scale
    is published as 0 and it dequantizes to zeros. A vector
    containing NaN publishes ``scale = NaN`` with an all-zero qvec —
    visibly corrupt (it dequantizes to NaN), never masquerading as a
    valid max-magnitude vector (Spark treats NaN as the LARGEST
    double, so the naive max would saturate every component to
    +127)."""
    key = _quote(id_col)
    emb = f"CAST({_quote(vec_col)} AS ARRAY<DOUBLE>)"
    mx = f"array_max(transform({emb}, x -> abs(x)))"
    staged = df.selectExpr(
        key,
        f"CAST(CASE WHEN isnan({mx}) THEN CAST('NaN' AS DOUBLE) "
        f"WHEN {mx} > 0 THEN {mx} / 127.0D ELSE 0.0D END AS DOUBLE) AS scale",
        f"{emb} AS _e",
    )
    return staged.selectExpr(
        key,
        "scale",
        "transform(_e, x -> CAST(least(greatest(CASE WHEN NOT isnan(scale) "
        "AND scale > 0 THEN round(x / scale) ELSE 0.0D END, -127.0D), 127.0D) "
        "AS TINYINT)) AS qvec",
    )


def dequantize_embeddings(
    df: DataFrame, id_col: str = "vec_id"
) -> DataFrame:
    """Inverse of :func:`quantize_embeddings` → ``(<id_col>,
    embedding array<double>)``, ``x ≈ q * scale``."""
    return df.selectExpr(
        _quote(id_col),
        "transform(qvec, v -> CAST(v AS DOUBLE) * scale) AS embedding",
    )
