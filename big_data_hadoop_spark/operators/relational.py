"""Relational operator surface (SURVEY §2.5/§2.6/§2.8).

The reference has no joins, SQL windows, or set operations; this module is
the engine's generalized surface over them, delegating to Spark's built-in
strategies (Catalyst picks broadcast/sort-merge/shuffle-hash; AQE re-plans
at runtime). The wrappers exist to (a) name the operator inventory
explicitly and (b) centralize the scale-minded defaults: small dimension
sides are broadcast, aggregations rely on partial+final HashAggregate,
top-K goes through TakeOrderedAndProject, ranking windows filter in the
same select to avoid a second pass.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from big_data_hadoop_spark.functions.rank import _literal, top_k_per


def filter_project(
    df: DataFrame, predicate: Column, columns: Sequence[str | Column]
) -> DataFrame:
    """Filter + project; Catalyst pushes both into the parquet scan."""
    return df.filter(predicate).select(*columns)


def hash_agg(
    df: DataFrame, keys: Sequence[str], aggs: Sequence[Column]
) -> DataFrame:
    """Grouped aggregation → partial/final HashAggregate around one shuffle."""
    return df.groupBy(*keys).agg(*aggs)


def equi_join(
    left: DataFrame,
    right: DataFrame,
    on: Column | str | Sequence[str],
    how: str = "inner",
    broadcast_right: bool = False,
) -> DataFrame:
    """Equi-join; ``broadcast_right`` hints the dimension side so a 100-row
    nation table never drives a shuffle of a 100 TB fact table."""
    if broadcast_right:
        right = F.broadcast(right)
    return left.join(right, on, how)


def salted_join(
    skewed: DataFrame,
    other: DataFrame,
    on: Sequence[str],
    salt_buckets: int = 16,
    how: str = "inner",
    seed: int = 42,
) -> DataFrame:
    """Equi-join with static key salting for extreme skew: ``skewed``
    rows get a random salt in ``[0, salt_buckets)``, ``other`` is
    replicated once per salt value, and the join key becomes
    ``(*on, salt)`` — a single hot key now lands on ``salt_buckets``
    reducers instead of one.

    This is the STATIC defense for when AQE's runtime skew splitting
    (``spark.sql.adaptive.skewJoin.enabled``, on by default in the
    session factory) is not enough — e.g. a hot key inside one shuffle
    block, or a build side AQE won't split. Cost model: the ``other``
    side is scanned once but shuffled ``salt_buckets`` times over — use
    it when ``other`` is small relative to the skewed fact side but too
    big to broadcast outright. A pure physical rewrite: results equal
    the plain join (pinned by ``tests/test_properties.py``).

    ``how`` may be ``inner`` or ``left`` (outer semantics on the
    replicated side would produce one null-extended row per salt).
    """
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports how='inner' or 'left' only")
    if salt_buckets < 1:
        # review finding: 0 exploded an empty salt array, silently
        # dropping every replicated-side row (empty "join result")
        raise ValueError(f"salt_buckets must be >= 1, got {salt_buckets}")
    # ADVICE r2: an existing _salt column would be silently clobbered on
    # one side and ambiguous on the other — refuse loudly instead.
    for side, cols in (("skewed", skewed.columns), ("other", other.columns)):
        if "_salt" in cols:
            raise ValueError(
                f"salted_join reserves the column name '_salt', but the "
                f"{side} input already has one — rename it first"
            )
    salt = (F.rand(seed=seed) * salt_buckets).cast("int")
    s = skewed.withColumn("_salt", salt)
    o = other.withColumn(
        "_salt",
        F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)])),
    )
    return s.join(o, [*on, "_salt"], how).drop("_salt")


def semi_join(
    left: DataFrame, right: DataFrame, on: Column | str | Sequence[str]
) -> DataFrame:
    """EXISTS — rows of ``left`` with a match; right columns dropped."""
    return left.join(right, on, "left_semi")


def anti_join(
    left: DataFrame, right: DataFrame, on: Column | str | Sequence[str]
) -> DataFrame:
    """NOT EXISTS — rows of ``left`` with no match."""
    return left.join(right, on, "left_anti")


def window_rank(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column],
    rank_col: str = "rnk",
    top: int | None = None,
) -> DataFrame:
    """RANK() per partition, optionally keeping ranks <= ``top``.

    The rank filter is applied immediately so downstream operators see the
    reduced row set (per-group top-K pattern).
    """
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    out = df.withColumn(rank_col, F.rank().over(w))
    if top is not None:
        out = out.filter(F.col(rank_col) <= top)
    return out


def asof_lookup(
    df: DataFrame,
    partition_col: str,
    ts_col: str,
    order_cols: Sequence[str],
    value_when: Column,
    out_col: str = "asof_value",
) -> DataFrame:
    """As-of lookup within one ordered stream (Spark has no native as-of
    join): for each row, the latest prior value of ``value_when`` (a CASE
    expression selecting the rows of interest) in its partition.

    Implemented as a running ``max`` over ``ROWS BETWEEN UNBOUNDED
    PRECEDING AND 1 PRECEDING`` — a single sort per partition, no join at
    all. For two distinct tables, union them with a tag column first (the
    classic merge-as-of); at scale this costs one shuffle on the partition
    key, the same as any co-partitioned join.
    """
    w = (
        Window.partitionBy(partition_col)
        .orderBy(*[F.asc(c) for c in [ts_col, *order_cols]])
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return df.withColumn(out_col, F.max(value_when).over(w))


def asof_join(
    left: DataFrame,
    right: DataFrame,
    partition_col: str,
    ts_col: str,
    value_cols: Sequence[str],
    how: str = "left",
) -> DataFrame:
    """Two-table as-of join (the merge-as-of ``asof_lookup`` documents):
    for each ``left`` row, append ``value_cols`` from the ``right`` row
    with the same ``partition_col`` and the greatest ``right.ts_col <=
    left.ts_col`` — the classic events-to-slowly-changing-metadata join
    (DuckDB/pandas ``ASOF JOIN`` semantics; Spark has no native operator).

    Implementation is a union-with-tag, NOT a join: right rows carry
    their values in a struct, the union is sorted per partition on
    ``(ts, side)`` with right-before-left at equal timestamps (<=
    semantics), and one ``last(payload, ignorenulls=True)`` running
    window propagates the most recent right payload onto every left row.
    Right-side NULL values survive (the struct itself is non-null per
    right row, so ``ignorenulls`` never skips a matched row).

    The 100 TB shape: ONE shuffle of each input on ``partition_col`` and
    one per-partition sort — the same cost as a co-partitioned join, with
    no range-condition explosion and no skew from popular join keys
    (a sort-merge band join would re-scan right per left row). Ties among
    right rows with equal ``(partition, ts)`` resolve to the greatest
    payload struct (field-wise comparison) — deterministic.

    ``how``: ``left`` keeps unmatched left rows (null values), ``inner``
    drops them. Both schemas must share ``partition_col`` and ``ts_col``
    names; ``value_cols`` must not collide with left columns.
    """
    if how not in ("inner", "left"):
        raise ValueError("asof_join supports how='inner' or 'left' only")
    clash = set(value_cols) & set(left.columns)
    if clash:
        raise ValueError(f"value_cols collide with left columns: {sorted(clash)}")
    tag, payload = "_asof_side", "_asof_payload"
    for c in (tag, payload):
        if c in left.columns or c in right.columns:
            raise ValueError(f"asof_join reserves the column name '{c}'")

    # NULL join keys never match (join/DuckDB ASOF semantics). Window
    # partitioning would otherwise group all NULL keys together and let
    # left rows inherit NULL-key right payloads, so drop those right rows;
    # NULL-key left rows then sit in a right-free partition → null payload
    # (kept by 'left', dropped by 'inner'). A NULL TIMESTAMP likewise
    # never matches an inequality (review finding: ASC sorts NULLs
    # first, so a NULL-ts right row sat at the partition head and its
    # payload leaked onto every left row).
    r = right.filter(
        F.col(partition_col).isNotNull() & F.col(ts_col).isNotNull()
    ).select(
        F.col(partition_col),
        F.col(ts_col),
        F.struct(*[F.col(c) for c in value_cols]).alias(payload),
        F.lit(0).alias(tag),
    )
    l = left.withColumn(tag, F.lit(1))
    u = l.unionByName(r, allowMissingColumns=True)

    w = (
        Window.partitionBy(partition_col)
        .orderBy(F.asc(ts_col), F.asc(tag), F.asc(payload))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = u.withColumn(payload, F.last(payload, ignorenulls=True).over(w))
    out = filled.filter(F.col(tag) == 1)
    if how == "inner":
        out = out.filter(F.col(payload).isNotNull())
    return out.select(
        *[F.col(c) for c in left.columns],
        *[F.col(f"{payload}.{c}").alias(c) for c in value_cols],
    )


def bucketized_range_join(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_lo: str,
    right_hi: str,
    bucket_width: int,
) -> DataFrame:
    """UNKEYED interval join at scale: pair every left row whose
    ``left_ts`` falls in ``(right_lo, right_hi]`` — with no shared equi
    key, Spark plans the naive form as a broadcast-nested-loop (or
    cartesian) join, a scan of every right interval per left row.

    Bucketization turns it into an equi-join (SURVEY §4): the numeric
    line is cut into ``bucket_width`` buckets; each left row belongs to
    exactly ONE bucket, each right interval is exploded to the buckets
    it overlaps (``ceil(span / width) + 1`` rows), and the join runs on
    the bucket id with the exact band predicate as a post-join filter.
    Because a left timestamp has exactly one bucket, every qualifying
    pair meets exactly once — no dedup pass. Choose ``bucket_width``
    near the typical interval span: replication factor is
    ``span / width + 1`` while bucket population shrinks linearly in
    ``width`` — the classic time/space knob.

    Exact: the band predicate re-checks every candidate, so the output
    equals the naive join (property-tested). Column names of the two
    inputs must be disjoint. Timestamp/bound columns must be numeric
    (cast timestamps to ``unix_micros`` first).
    """
    clash = set(left.columns) & set(right.columns)
    if clash:
        raise ValueError(f"column names must be disjoint: {sorted(clash)}")
    if "_bkt" in left.columns or "_bkt" in right.columns:
        raise ValueError("bucketized_range_join reserves the column '_bkt'")
    if bucket_width <= 0:
        # review finding: floor(x / 0) is NULL in non-ANSI mode and NULL
        # bucket keys never join — a silent empty result, not an error
        raise ValueError(f"bucket_width must be positive, got {bucket_width}")
    l = left.withColumn(
        "_bkt", F.floor(F.col(left_ts) / F.lit(bucket_width)).cast("long")
    )
    r = right.withColumn(
        "_bkt",
        F.explode(
            F.sequence(
                F.floor(F.col(right_lo) / F.lit(bucket_width)).cast("long"),
                F.floor(F.col(right_hi) / F.lit(bucket_width)).cast("long"),
            )
        ),
    )
    return (
        l.join(r, "_bkt")
        .filter(
            (F.col(left_ts) > F.col(right_lo))
            & (F.col(left_ts) <= F.col(right_hi))
        )
        .drop("_bkt")
    )


def intersect(left: DataFrame, right: DataFrame) -> DataFrame:
    """Set intersection (distinct)."""
    return left.intersect(right)


def union_all(left: DataFrame, right: DataFrame) -> DataFrame:
    """Bag union (no dedup) — pair with ``distinct`` for set union."""
    return left.unionAll(right)


def except_all(left: DataFrame, right: DataFrame) -> DataFrame:
    """Bag difference."""
    return left.exceptAll(right)


def rollup_agg(
    df: DataFrame, keys: Sequence[str], aggs: Sequence[Column]
) -> DataFrame:
    """GROUP BY ROLLUP — hierarchical subtotals plus grand total."""
    return df.rollup(*keys).agg(*aggs)


def cube_agg(
    df: DataFrame, keys: Sequence[str], aggs: Sequence[Column]
) -> DataFrame:
    """GROUP BY CUBE — subtotals for every key combination."""
    return df.cube(*keys).agg(*aggs)


def pivot_counts(
    df: DataFrame, group_key: str, pivot_col: str, values: Sequence[str]
) -> DataFrame:
    """Pivot ``pivot_col`` (explicit value list — no discovery scan, which
    is the 100 TB-safe form) into count columns; absent combinations are 0
    rather than null so results are engine-portable."""
    out = df.groupBy(group_key).pivot(pivot_col, list(values)).count()
    return out.select(
        group_key,
        *[F.coalesce(F.col(v), F.lit(0)).cast("long").alias(v) for v in values],
    )


def full_outer_join(
    left: DataFrame, right: DataFrame, on: Column | str | Sequence[str]
) -> DataFrame:
    """Full outer join — both unmatched sides preserved."""
    return left.join(right, on, "full_outer")


def moving_agg(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column],
    agg: Column,
    preceding: int,
    out_col: str,
) -> DataFrame:
    """Sliding-frame analytic: ``agg`` over ``ROWS BETWEEN <preceding>
    PRECEDING AND CURRENT ROW`` — one sort per partition."""
    w = (
        Window.partitionBy(*partition_by)
        .orderBy(*order_by)
        .rowsBetween(-preceding, Window.currentRow)
    )
    return df.withColumn(out_col, agg.over(w))


def session_agg(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    gap_seconds: int = 1800,
) -> DataFrame:
    """Gap-based sessions via Spark's NATIVE ``session_window`` →
    ``(<key_col>, session_start, session_end, n_events)`` — one
    merging-window aggregation, no lag/cumsum window pass and no
    Python state. This is the Spark-idiomatic form of the engine's
    two other sessionizers and agrees with both (equality pinned in
    tests): the lag+conditional-sum batch probe (q29) and the
    ``applyInPandasWithState`` streaming operator. Prefer THIS one
    for batch session aggregates at scale — ``session_window`` merges
    in the aggregation itself, so there is exactly ONE keyed shuffle
    and map-side partial merging applies; the lag/cumsum form needs a
    full sort window before it can even label rows. The same
    expression works under ``readStream`` with a watermark (Spark
    merges session state across micro-batches natively).

    ``session_end`` is the LAST EVENT's timestamp (the inclusive
    convention the streaming operator emits), not Spark's raw
    ``window.end`` which pads the trailing gap.

    Boundary semantics: an event EXACTLY ``gap_seconds`` after its
    predecessor MERGES (``session_window``'s window end is inclusive
    here — verified empirically and pinned by test), matching the
    lag/cumsum probe and the streaming operator, which split only
    when the gap is EXCEEDED. All three sessionizers agree at the
    boundary."""
    # honor fractional gaps at microsecond resolution — int() would
    # turn 0.5 into an invalid '0 seconds' window and 1799.9 into a
    # silently different gap (review finding; same rule as
    # resample_timeseries' step)
    gap_us = int(round(gap_seconds * 1_000_000))
    if gap_us <= 0:
        raise ValueError(
            "gap_seconds must be positive (at least 1 microsecond)"
        )
    from pyspark.sql.types import TimestampNTZType, TimestampType

    # resolve the field the way Spark's default resolver does —
    # case-insensitively; an exact dict lookup would KeyError on a
    # spelling Spark itself accepts (review finding). Unknown columns
    # fall through to the cast path so Spark raises its own
    # AnalysisException naming the available columns.
    fld = next(
        (f for f in df.schema.fields if f.name.lower() == ts_col.lower()),
        None,
    )
    ts = F.col(ts_col)
    if fld is None or not isinstance(
        fld.dataType, (TimestampType, TimestampNTZType)
    ):
        # string/long inputs need the cast; a column that is ALREADY a
        # timestamp type (TZ or NTZ — session_window accepts both)
        # must be used verbatim: wrapping it in a Cast detaches the
        # caller's streaming WATERMARK from the session window and
        # Spark refuses append mode (review-by-test)
        ts = ts.cast("timestamp")
    win = F.session_window(ts, f"{gap_us} microseconds")
    return df.groupBy(F.col(key_col), win.alias("_w")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(ts).alias("session_start"),
        F.max(ts).alias("session_end"),
    ).select(key_col, "session_start", "session_end", "n_events")


def resample_timeseries(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    val_col: str,
    step_seconds: float,
    agg: str = "avg",
    fill: str = "null",
    max_buckets_per_key: int = 1_000_000,
) -> DataFrame:
    """Regularize an irregular per-key time series onto a fixed grid →
    ``(<key_col>, bucket_ts, value, n_obs)``: aggregate observations
    into ``step_seconds`` buckets, then DENSIFY each key's series over
    its own ``[first, last]`` observed bucket span (missing buckets
    appear with ``n_obs = 0``) and fill gaps:

    * ``"null"`` — leave holes NULL (the honest default),
    * ``"zero"`` — 0.0 (count-like series),
    * ``"locf"`` — last observation carried forward; buckets before a
      key's first observation stay NULL,
    * ``"linear"`` — interpolate between the surrounding observed
      buckets by bucket distance; leading/trailing gaps stay NULL.

    ``value`` is always DOUBLE (the interpolation arithmetic and the
    cross-agg uniformity both want it); ``agg`` is one of
    avg/sum/min/max/count over non-null ``val_col``.

    Scale shape: ONE keyed aggregation (map-side partial combine) down
    to O(keys × observed buckets) rows — the raw events never pass
    this point — then the grid explodes from a per-key (min, max) span
    frame of O(keys) rows, and the fill windows run per key over
    already-bucketed rows. The hazard at 100 TB is a key whose span/
    step explodes the grid (one sensor with a 10-year span at 1s
    steps is 3·10⁸ rows in ONE task): ``max_buckets_per_key`` refuses
    loudly first — the same valve pattern as the funnel's
    ``max_events_per_user`` and BM25's ``max_df`` — computed from the
    O(keys) span frame before anything explodes. DuckDB oracle
    (generate_series + IGNORE NULLS windows) in
    tests/test_resample.py."""
    allowed_aggs = {"avg", "sum", "min", "max", "count"}
    if agg not in allowed_aggs:
        raise ValueError(f"agg must be one of {sorted(allowed_aggs)}")
    allowed_fills = {"null", "zero", "locf", "linear"}
    if fill not in allowed_fills:
        raise ValueError(f"fill must be one of {sorted(allowed_fills)}")
    reserved = {"bucket_ts", "value", "n_obs"}
    if key_col in reserved:
        raise ValueError(f"key_col may not be one of {sorted(reserved)}")
    # honor fractional steps at microsecond resolution — int(0.5) would
    # silently produce a ZERO step (divide-by-zero under ANSI, an empty
    # frame without it) and int(90.5) a DIFFERENT grid than requested
    step_us = int(round(step_seconds * 1_000_000))
    if step_us <= 0:
        raise ValueError(
            "step_seconds must be positive (at least 1 microsecond)"
        )
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    obs = (
        df.select(
            F.col(key_col).alias("_k"),
            F.floor(us / F.lit(step_us)).cast("long").alias("_b"),
            F.col(val_col).alias("_v"),
        )
        .groupBy("_k", "_b")
        .agg(
            getattr(F, agg)("_v").cast("double").alias("_val"),
            F.count("_v").alias("n_obs"),
        )
        .localCheckpoint(eager=True)  # reused: span probe + grid join
    )
    spans = obs.groupBy("_k").agg(
        F.min("_b").alias("_mb"), F.max("_b").alias("_xb")
    )
    worst = spans.agg(
        F.max(F.col("_xb") - F.col("_mb") + 1).alias("w")
    ).first()
    if worst is not None and worst["w"] is not None and worst["w"] > max_buckets_per_key:
        raise ValueError(
            f"a key spans {worst['w']} buckets at step={step_seconds}s, "
            f"over the max_buckets_per_key budget of {max_buckets_per_key} "
            "— raise the budget, coarsen the step, or split hot keys "
            "(densifying it would explode one key into one giant task)"
        )
    grid = spans.select(
        "_k", F.explode(F.sequence("_mb", "_xb")).alias("_b")
    )
    joined = grid.join(obs, ["_k", "_b"], "left").withColumn(
        "n_obs", F.coalesce("n_obs", F.lit(0))
    )
    w = Window.partitionBy("_k").orderBy("_b")
    if fill == "zero":
        value = F.coalesce("_val", F.lit(0.0))
    elif fill == "locf":
        value = F.last("_val", ignorenulls=True).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        )
    elif fill == "linear":
        wp = w.rowsBetween(Window.unboundedPreceding, -1)
        wn = w.rowsBetween(1, Window.unboundedFollowing)
        pv = F.last("_val", ignorenulls=True).over(wp)
        pb = F.last(
            F.when(F.col("_val").isNotNull(), F.col("_b")), ignorenulls=True
        ).over(wp)
        nv = F.first("_val", ignorenulls=True).over(wn)
        nb = F.first(
            F.when(F.col("_val").isNotNull(), F.col("_b")), ignorenulls=True
        ).over(wn)
        value = F.when(F.col("_val").isNotNull(), F.col("_val")).otherwise(
            F.when(
                pv.isNotNull() & nv.isNotNull(),
                pv + (nv - pv) * (F.col("_b") - pb) / (nb - pb),
            )
        )
    else:
        value = F.col("_val")
    return joined.select(
        F.col("_k").alias(key_col),
        F.timestamp_micros(F.col("_b") * F.lit(step_us)).alias("bucket_ts"),
        value.cast("double").alias("value"),
        "n_obs",
    )


def funnel_progress(
    events: DataFrame,
    steps: Sequence[str],
    within_seconds: float | None = None,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    max_events_per_user: int | None = None,
) -> DataFrame:
    """Ordered event-funnel progress per user (view → click → purchase
    analytics): how far each user advanced through ``steps`` under
    GREEDY FIRST-TOUCH semantics — step 1 matches the user's earliest
    ``steps[0]`` event, each later step the earliest matching event
    after the previous step, and (optionally) the whole walk must fit
    ``within_seconds`` of the first step. The common funnel-tool
    default, stated explicitly because a sliding-window re-anchor can
    complete funnels first-touch misses.

    Returns ``(user, reached, completed, first_ts, last_ts,
    duration_s)`` — ``reached`` counts completed steps (0 = never hit
    step 1), ``duration_s`` NULL until completion.

    Scale shape: events are filtered to the step types BEFORE the one
    groupBy (a funnel over 3 types of a 100-type event stream collects
    3% of rows), then each user's matching events fold through ONE
    sorted-array ``aggregate`` — a JVM higher-order walk, no window
    function, no per-step self-join (the k-step self-join formulation
    shuffles the events table k times; this shuffles once). Per-user
    state is the matching-event array — bounded by the user's events
    OF THE FUNNEL TYPES, the same per-group bound sessionization
    carries.

    ``max_events_per_user`` is the per-group state VALVE (the
    ``max_doc_freq`` / ``max_df`` pattern the winnow and BM25 operators
    carry): a bot user with 10\\ :sup:`7` funnel-type events would
    otherwise materialize one unbounded sorted-array row — a straggler
    task or executor OOM at 100 TB. With the valve set, each user is
    evaluated over their EARLIEST ``max_events_per_user`` funnel-type
    events (rank via a sort-based window in (t, type) order — the
    exact order the fold walks — which spills to disk instead of
    building the array; the filter lands BEFORE collect_list, so no
    row ever exceeds the cap). Semantics: identical for every user at
    or under the cap; a capped user's walk simply cannot see events
    past their first N — deterministic truncation, stated rather than
    silent. The window reuses the groupBy's hash partitioning, so the
    plan keeps its single Exchange (pinned by test)."""
    steps = list(steps)
    if not steps:
        raise ValueError("steps must be non-empty")
    if max_events_per_user is not None and max_events_per_user < 1:
        raise ValueError("max_events_per_user must be >= 1")
    micros = F.unix_micros(F.col(ts_col).cast("timestamp"))
    budget = (
        None
        if within_seconds is None
        else int(within_seconds * 1_000_000)
    )
    relevant = events.filter(
        F.col(type_col).isin(steps)
    ).select(
        F.col(user_col).alias("user"),
        F.struct(micros.alias("t"), F.col(type_col).alias("y")).alias("e"),
    )
    if max_events_per_user is not None:
        # earliest-N per user in (t, y) order — the same lexicographic
        # struct order array_sort walks below, so the capped array is
        # exactly the first N elements of the uncapped one
        relevant = top_k_per(
            relevant, "user", "e.t, e.y", max_events_per_user, rank="_rn"
        ).drop("_rn")
    per_user = relevant.groupBy("user").agg(
        F.array_sort(F.collect_list("e")).alias("evs")
    )
    # clamp the lookup: after completion stage == len(steps) and the
    # guard below is false, but ANSI element_at must never see an
    # out-of-bounds index even in a dead branch (And short-circuiting
    # in codegen is an implementation detail, not a contract)
    wanted = (
        f"element_at(array({', '.join(map(_literal, steps))}), "
        f"least(acc.stage + 1, {len(steps)}))"
    )
    in_budget = (
        "true" if budget is None
        else f"coalesce(e.t - acc.first_t <= {budget}, true)"
    )
    out = per_user.selectExpr(
        "`user`",
        "aggregate(evs, named_struct('stage', 0, 'first_t', CAST(NULL AS BIGINT), "
        "'last_t', CAST(NULL AS BIGINT)), (acc, e) -> CASE WHEN "
        f"acc.stage < {len(steps)} AND e.y = {wanted} AND {in_budget} THEN "
        "named_struct('stage', acc.stage + 1, 'first_t', coalesce(acc.first_t, e.t), "
        "'last_t', e.t) ELSE acc END) AS st",
    )
    done = F.col("st.stage") == len(steps)
    return out.select(
        F.col("user"),
        F.col("st.stage").alias("reached"),
        done.alias("completed"),
        F.timestamp_micros(F.col("st.first_t")).alias("first_ts"),
        F.timestamp_micros(F.col("st.last_t")).alias("last_ts"),
        F.when(
            done,
            (F.col("st.last_t") - F.col("st.first_t")) / 1_000_000.0,
        ).alias("duration_s"),
    )


def funnel_counts(
    events: DataFrame,
    steps: Sequence[str],
    within_seconds: float | None = None,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    max_events_per_user: int | None = None,
) -> DataFrame:
    """The drop-off table over :func:`funnel_progress`: one row per
    step with the number of users who reached AT LEAST that step —
    monotonically non-increasing by construction, and EVERY step
    present (a step nobody reached reports 0, not a missing row — the
    drop-off reading depends on seeing the cliff). A narrow explode of
    the per-user result (k rows per user, k = step count), one count
    aggregation, one broadcast join against the k-row step table."""
    steps = list(steps)
    prog = funnel_progress(
        events,
        steps,
        within_seconds=within_seconds,
        user_col=user_col,
        ts_col=ts_col,
        type_col=type_col,
        max_events_per_user=max_events_per_user,
    )
    ks = F.explode(F.sequence(F.lit(1), F.lit(len(steps)))).alias("step")
    reached = prog.select("reached", ks).filter(
        F.col("reached") >= F.col("step")
    )
    counts = reached.groupBy("step").agg(F.count("*").alias("n"))
    from big_data_hadoop_spark.sources.io import local_frame

    all_steps = local_frame(
        events.sparkSession,
        [(i + 1, s) for i, s in enumerate(steps)],
        "step int, event_type string",
    )
    return (
        all_steps.join(F.broadcast(counts), "step", "left")
        .select(
            "step",
            "event_type",
            F.coalesce("n", F.lit(0)).alias("n_users"),
        )
        .orderBy("step")
    )


def cohort_retention(
    events: DataFrame,
    period: str = "week",
    max_offset: int = 8,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Cohort retention matrix: users grouped by the period of their
    FIRST activity (the cohort), counted once per later period they
    were active in — ``(cohort, offset, n_users)`` with ``offset`` in
    periods since the cohort period (0 = the cohort's own size).
    ``period`` is ``day`` or ``week`` (fixed-length periods, so the
    offset is an exact integer day-difference division; months vary in
    length and would need `months_between` semantics — unsupported
    here rather than subtly wrong).

    ONE wide shuffle: groupBy user computes the cohort (min ts) AND the
    distinct active periods in the same aggregation; a narrow explode
    then a small (cohorts × offsets)-cardinality count. No self-join of
    the events table against per-user first-activity (the textbook
    formulation — a second full shuffle of the fact table)."""
    if period not in ("day", "week"):
        raise ValueError(f"period must be 'day' or 'week', got {period!r}")
    days = 1 if period == "day" else 7
    p = F.date_trunc(period, F.col(ts_col).cast("timestamp"))
    per_user = (
        events.select(F.col(user_col).alias("user"), p.alias("p"))
        .groupBy("user")
        .agg(
            F.min("p").alias("cohort"),
            F.collect_set("p").alias("actives"),
        )
    )
    exploded = per_user.select(
        F.to_date("cohort").alias("cohort"),
        F.explode("actives").alias("active"),
    ).select(
        "cohort",
        (
            F.datediff(F.to_date("active"), F.col("cohort")) / days
        ).cast("int").alias("offset"),
    )
    return (
        exploded.filter(F.col("offset") <= max_offset)
        .groupBy("cohort", "offset")
        .agg(F.count("*").alias("n_users"))
        .orderBy("cohort", "offset")
    )
