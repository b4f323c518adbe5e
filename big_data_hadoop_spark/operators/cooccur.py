"""Windowed co-occurrence: pairs and stripes (SURVEY §2.4 W1-W4).

The reference's signature computation. For each raw token position ``i``
whose token is categorized, and each offset ``d`` in the window, emit the
co-occurrence ``(t[i], t[i+d])`` iff ``t[i+d]`` has the SAME category
(``HadoopWordPairs.java:54-79``, ``HadoopWordPairs2.java:49-77``,
``HadoopWordStripes2.java:50-112``).

Spark-first formulation: the window is plain array functions parsed from
one SQL string. Each offset ``d`` zips the token arrays with themselves
shifted by ``d`` (``arrays_zip`` of ``slice``s); the zips are concatenated,
``inline``d and filtered to same-category pairs. NO self-join, NO SQL
window and no lambda in the generator: ``Generate``, filter and partial
aggregate run as one whole-stage-codegen stage, and the single shuffle is
the count aggregation. The one ``CodegenFallback`` left is the tokenizer's
``cats`` ``transform`` in the projection below. At 100 TB this matters: a
band self-join on ``(doc_id, pos BETWEEN ...)`` would shuffle the token
stream twice and explode the equi-join on ``doc_id``; the array form
shuffles only the (much smaller) aggregated pair counts.

Skew note: stopword pairs are Zipf-skewed. The aggregation is a partial
(map-side) + final HashAggregate, so hot keys are pre-compacted in every
task before the shuffle — the same defense the reference wires by hand as a
combiner — and AQE handles residual post-shuffle skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from big_data_hadoop_spark.operators.tokenize import tokenized


def _window_elements(offsets: list[int]) -> str:
    """SQL for the array of ``(category, left, right, right_category)``
    structs at the given offsets of one document's ``toks``/``cats``.

    Offset ``d`` pairs position ``i`` with ``i + d`` by zipping two
    shifted slices of the same arrays, ``n = size - |d|`` long (clamped at
    0: ``slice`` rejects a negative length). Uncategorized and
    cross-category pairs survive here and are dropped by the caller's
    ``category = right_category`` filter — the reference's guard
    structure (``HadoopWordPairs2.java:61-66``). Offset ``0`` is the
    stripes sentinel: each position with a NULL ``right``.
    """
    zips = []
    for d in offsets:
        lo, hi = (1, 1 + d) if d >= 0 else (1 - d, 1)
        n = f"greatest(size(toks) - {abs(d)}, 0)"
        null = f"array_repeat(CAST(NULL AS STRING), {n})"
        right = f"slice(toks, {hi}, {n})" if d else null
        zips.append(
            f"arrays_zip(slice(cats, {lo}, {n}), slice(toks, {lo}, {n}), "
            f"{right}, slice(cats, {hi}, {n}))"
        )
    return f"concat({', '.join(zips)})"


def _cooccur_counts(
    df: DataFrame,
    offsets: list[int],
    text_col: str = "text",
    lowercase: bool = False,
) -> DataFrame:
    """``(category, left, right, cnt)`` for the given offset window."""
    t = tokenized(df, text_col=text_col, lowercase=lowercase, keep_cols=())
    return (
        t.selectExpr(
            f"inline({_window_elements(offsets)})"
            " AS (category, `left`, `right`, right_category)"
        )
        .where("category = right_category")
        .groupBy("category", "left", "right")
        .agg(F.count("*").alias("cnt"))
    )


def pair_counts(
    df: DataFrame,
    m: int = 1,
    text_col: str = "text",
    lowercase: bool = False,
) -> DataFrame:
    """W1 (``m=1``) / W2 (window ``m``) forward pairs.

    ``(category, left, right, cnt)`` where ``right`` occurs 1..m positions
    after ``left`` in the raw stream and shares its category. ``m`` is a
    plan literal — distribution-safe by construction, unlike the
    reference's driver-JVM static (``HadoopWordPairs2.java:26,123``,
    SURVEY Q3). Pairs are strictly per-document (SURVEY Q2 fix).
    """
    if m < 1:
        raise ValueError(f"window must be >= 1, got {m}")
    return _cooccur_counts(df, list(range(1, m + 1)), text_col, lowercase)


def neighbor_counts(
    df: DataFrame,
    m: int = 1,
    text_col: str = "text",
    lowercase: bool = False,
) -> DataFrame:
    """Symmetric neighbor counts: ``(category, token, neighbor, cnt)`` with
    neighbors at distance 1..m in EITHER direction (stripe edges, W3/W4).

    Emitted in one pass with offsets ``±1..±m`` — one shuffle total, rather
    than deriving from forward pairs with a second aggregation.
    """
    if m < 1:
        raise ValueError(f"window must be >= 1, got {m}")
    offsets = [d for d in range(-m, m + 1) if d != 0]
    nb = _cooccur_counts(df, offsets, text_col, lowercase)
    return nb.selectExpr(
        "category", "`left` AS token", "`right` AS neighbor", "cnt"
    )


def stripes(
    df: DataFrame,
    m: int = 1,
    text_col: str = "text",
    lowercase: bool = False,
    keep_empty: bool = True,
) -> DataFrame:
    """W3/W4 stripes: ``(category, token, stripe map<string,long>, mass)``.

    Built as the flat neighbor aggregation rolled up to a map —
    ``map_from_entries(sort_array(collect_list(...)))`` — never an in-memory
    per-record map accumulation (the reference's ``MapWritable`` combiner,
    ``HadoopWordStripes.java:115-160``): the flat partial HashAggregate
    compacts earlier and spills, and the collect_list is bounded by a
    token's distinct-neighbor cardinality, not corpus size.

    ``keep_empty`` preserves the reference's behavior of emitting a stripe
    for every categorized token even when it has no same-category neighbor
    (``HadoopWordStripes.java:100``): the window explode carries one
    sentinel ``(category, token, NULL)`` per categorized position (offset
    0), which stripe and mass skip, so a token with no neighbor gets the
    empty map and mass 0 from the same scan (``keep_empty=False`` drops
    those rows). Map entries are key-sorted so any serialization of the
    map is canonical (SURVEY Q7).
    """
    if m < 1:
        raise ValueError(f"window must be >= 1, got {m}")
    nb = _cooccur_counts(df, list(range(-m, m + 1)), text_col, lowercase)
    agg = nb.groupBy("category", F.col("left").alias("token")).agg(
        F.expr(
            "map_from_entries(sort_array(collect_list("
            "IF(`right` IS NULL, NULL, struct(`right` AS neighbor, cnt)))))"
        ).alias("stripe"),
        F.expr("coalesce(sum(IF(`right` IS NULL, NULL, cnt)), 0L)").alias("mass"),
    )
    return agg if keep_empty else agg.where("size(stripe) > 0")


def stripe_entries(stripes_df: DataFrame) -> DataFrame:
    """Canonical export: stripe map → key-sorted ``['n:cnt', ...]`` array.

    MapType has no defined order, so oracle comparison and text export
    always go through this form (SURVEY §2.8 probe rules).
    """
    return stripes_df.withColumn(
        "stripe",
        F.expr("transform(map_entries(stripe), e -> concat_ws(':', e.key, e.value))"),
    )
