"""Multi-dimensional data layout: Z-order clustering for scan pruning.

Sorting a table by one column makes parquet row-group/file min-max
statistics selective for THAT column only; a filter on any other column
still scans everything. Z-ordering (Morton order — the public technique
behind Delta Lake's ``OPTIMIZE ZORDER BY`` and ClickHouse/DuckDB space-
filling-curve clustering) interleaves the bits of several columns'
rank-buckets into one sort key, so files end up covering small
HYPER-RECTANGLES of the key space: min-max stats stay narrow on EVERY
z-dimension at once and a predicate on any of them prunes most files.

Exact semantics (replicated by the pure-Python oracle in
``tests/test_layout.py``):

* Each z-column is normalized to a ``2^bits``-bucket rank via its
  global min/max: ``bucket = floor((v - mn) / (mx - mn) * (2^bits-1))``
  computed in DOUBLE, clamped to ``[0, 2^bits-1]``; NULLs and
  degenerate ranges (``mx == mn``) map to bucket 0.
* The z-value interleaves bucket bits little-endian by dimension:
  bit ``b`` of dimension ``i`` lands at position ``b * n_dims + i``.

Scale shape: min/max are one tiny global aggregate joined back by
broadcast (lazy — no driver action hidden in plan construction); the
z-value is a flat codegen'd bit expression; the physical clustering is
``repartitionByRange`` on the z-value (one range-sampling pass + one
shuffle — exactly what any global sort costs) followed by within-
partition sort, so files are contiguous z-ranges. The write itself
carries only the original columns.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "zorder_value",
    "write_zordered",
    "write_sorted",
    "zorder_cluster",
    "sort_cluster",
    "build_file_stats",
    "refresh_file_stats",
    "maintain_file_stats",
    "read_pruned",
    "read_pruned_where",
    "read_pruned_indexed",
    "suggest_bloom_bits",
    "analyze_from_stats",
]


def zorder_value(
    cols: list[str], bits: int = 10, stats_prefix: str = "_zs_"
) -> Column:
    """The interleaved z-value expression over ``cols``.

    Expects, for each column ``c``, companion attributes
    ``{stats_prefix}min_{c}`` / ``{stats_prefix}max_{c}`` in scope
    (``write_zordered`` joins them in; callers composing manually can
    attach constants). Returns a non-null BIGINT.
    """
    if not cols:
        raise ValueError("zorder needs at least one column")
    if bits < 1 or bits * len(cols) > 62:
        raise ValueError(
            f"bits={bits} x {len(cols)} dims must fit a signed 64-bit key"
        )
    n = len(cols)
    top = (1 << bits) - 1
    z = F.lit(0).cast("long")
    for i, c in enumerate(cols):
        mn = F.col(f"{stats_prefix}min_{c}")
        mx = F.col(f"{stats_prefix}max_{c}")
        span = mx - mn
        v = F.col(c).cast("double")
        # NaN handling (review finding): a single NaN row makes max()
        # return NaN, span NaN, and `span <= 0` FALSE — every row's
        # bucket then computed as NaN, collapsing the whole dimension.
        # NaN values map to bucket 0 per row, and NaN STATS (possible
        # only when the stats aggregation itself saw NaN through a
        # caller-supplied frame) degrade the dimension to bucket 0
        # explicitly instead of silently.
        scaled = F.when(
            F.col(c).isNull()
            | F.isnan(v)
            | F.isnan(span)
            | (span <= F.lit(0.0)),
            F.lit(0).cast("long"),
        ).otherwise(
            F.least(
                F.greatest(
                    F.floor(
                        (F.col(c).cast("double") - mn) / span * F.lit(float(top))
                    ),
                    F.lit(0),
                ),
                F.lit(top),
            ).cast("long")
        )
        for b in range(bits):
            z = z + F.shiftleft(
                F.shiftright(scaled, b).bitwiseAND(F.lit(1)), b * n + i
            )
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 10,
    n_files: int = 16,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as parquet clustered by the z-order of ``cols``.

    ``n_files`` bounds the output file count (= z-range partitions);
    size it so files land near the target file size at the corpus
    scale. Columns must be castable to double — numeric or timestamp
    types (Spark rejects ``cast(date AS double)``: cast DATE columns to
    timestamp, or derive a day number, before z-ordering). Hash
    non-ordinal strings into a bucket column first if needed —
    interleaving hashed bits buys pruning only for equality predicates.
    """
    zorder_cluster(df, cols, bits=bits, n_files=n_files).write.mode(
        mode
    ).parquet(path)


def zorder_cluster(
    df: DataFrame, cols: list[str], bits: int = 10, n_files: int = 16
) -> DataFrame:
    """The clustering half of :func:`write_zordered` without the
    write: ``df`` range-partitioned and sorted on the interleaved
    z-value of ``cols``, original columns only — for callers that
    need a z-clustered frame headed somewhere else (the compactor's
    layout-preserving rewrite; :func:`write_zordered` is this plus a
    parquet write). NaN-safe stats: min/max over a raw double column
    would return NaN if ANY row is NaN (poisoning the whole dimension
    — see :func:`zorder_value`); NaN rows are excluded here and
    bucket to 0 per row. Frames whose columns collide with the
    internal ``_z`` / ``_zs_min_*`` / ``_zs_max_*`` names are refused
    loudly — silently overwriting a user column named ``_z`` and
    selecting it back would publish sort keys as data (the
    ``cms_estimate`` collision-refusal precedent)."""
    internal = {"_z"} | {
        f"_zs_{side}_{c}" for c in cols for side in ("min", "max")
    }
    clash = internal & set(df.columns)
    if clash:
        raise ValueError(
            f"zorder_cluster: frame columns {sorted(clash)} collide "
            "with internal z-order names — rename them first"
        )
    stats = df.agg(
        *[
            agg
            for c in cols
            for agg in (
                F.min(
                    F.when(
                        ~F.isnan(F.col(c).cast("double")),
                        F.col(c).cast("double"),
                    )
                ).alias(f"_zs_min_{c}"),
                F.max(
                    F.when(
                        ~F.isnan(F.col(c).cast("double")),
                        F.col(c).cast("double"),
                    )
                ).alias(f"_zs_max_{c}"),
            )
        ]
    )
    out_cols = df.columns
    return (
        df.join(F.broadcast(stats))
        .withColumn("_z", zorder_value(cols, bits=bits))
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .select(*out_cols)
    )


def write_sorted(
    df: DataFrame,
    path: str,
    sort_cols: Sequence[str],
    n_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Globally range-sorted parquet layout for ONE sort dimension
    chain: rows are range-partitioned on ``sort_cols`` (file i holds
    only keys below every key of file i+1) and sorted within each
    file, so every file's parquet min/max footer stats cover a
    DISJOINT key range — a point or range predicate on the leading
    sort column prunes to the few files that can match, the
    single-dimension complement of the Z-order writer above (which
    trades per-dimension tightness for multi-dimension coverage).

    ``repartitionByRange`` samples the key distribution to place the
    cut points, balancing files across DISTINCT keys; a single hot key
    still lands wholly in one file (range partitioning never splits a
    key — the inherent limit of any sorted layout). The sort is
    per-partition (no global merge). NULL keys sort first, into file 0.
    """
    sort_cluster(df, sort_cols, n_files=n_files).write.mode(mode).parquet(
        path
    )


def sort_cluster(
    df: DataFrame, sort_cols: Sequence[str], n_files: int | None = None
) -> DataFrame:
    """The clustering half of :func:`write_sorted` without the write
    (range partition + within-partition sort), shared with the
    compactor's layout-preserving rewrite so the two cannot diverge."""
    if not sort_cols:
        raise ValueError("sort_cols must be non-empty")
    cols = [F.col(c) for c in sort_cols]
    part = (
        df.repartitionByRange(n_files, *cols)
        if n_files is not None
        else df.repartitionByRange(*cols)
    )
    return part.sortWithinPartitions(*cols)


def suggest_bloom_bits(ndv: int, fpp: float = 0.01) -> tuple[int, int]:
    """Standard Bloom sizing for a target false-positive rate:
    ``m = -n·ln(p) / (ln 2)²`` rounded UP to the power of two the
    double-hashing scheme requires, ``k = (m/n)·ln 2`` clamped to
    [1, 16]. Feed it the max per-file ``<col>_ndv`` from the stats
    index (``build_file_stats`` records approximate NDV per file
    exactly so filters can be sized instead of guessed — an undersized
    filter saturates and prunes nothing; see the ``*_density``
    diagnostic)."""
    import math

    if ndv < 1:
        raise ValueError("ndv must be >= 1")
    if not 0.0 < fpp < 1.0:
        raise ValueError("fpp must be in (0, 1)")
    m = -ndv * math.log(fpp) / (math.log(2) ** 2)
    bits = 64
    while bits < m:
        bits *= 2
    k = max(1, min(16, round(bits / ndv * math.log(2))))
    return bits, k


def _bloom_name(col: str, bits: int, k: int) -> str:
    """Index-schema name for a per-file Bloom sidecar column. The
    ``{bits}x{k}`` suffix makes the filter SELF-DESCRIBING: a refresh
    that re-scans changed files recovers the exact build parameters
    from the stored schema (an int stored in a data row would be lost
    on an empty index), and a probe hashed with different parameters
    cannot silently test against an incompatible bitset."""
    return f"{col}_bloom_{bits}x{k}"


def _bloom_specs_from_schema(columns: Sequence[str]) -> list[tuple[str, int, int]]:
    import re

    specs = []
    for name in columns:
        m = re.fullmatch(r"(.+)_bloom_(\d+)x(\d+)", name)
        if m:
            specs.append((m.group(1), int(m.group(2)), int(m.group(3))))
    return specs


def _validate_bloom(bits: int, k: int) -> None:
    if bits < 64 or (bits & (bits - 1)) != 0:
        raise ValueError(
            f"bloom_bits must be a power of two >= 64 (got {bits}) — "
            "the double-hashing step stride is forced odd, which is "
            "coprime with the table size only when it is a power of two"
        )
    if not 1 <= k <= 16:
        raise ValueError(f"bloom_k must be in [1, 16] (got {k})")


def _bloom_positions(col: Column, bits: int, k: int) -> Column:
    """The k Bloom bit positions for one value, as ``array<int>`` —
    classic Kirsch–Mitzenmacher double hashing ``(h1 + i*h2) mod m``
    with ``h2`` forced odd (odd is coprime with the power-of-two table
    size, so the k positions never collapse onto one slot). Pure JVM
    expressions: the SAME code path hashes the column at build time and
    the probe literal at read time, and a pure-Python replication of
    the arithmetic is pinned in ``tests/test_layout.py`` so the shared
    expression cannot hide a self-consistent bug. Both hashes are
    reduced mod m BEFORE the combine, so the arithmetic stays under
    ``m * (k+1)`` — no 64-bit overflow (ANSI mode would refuse the
    wrap); ``pmod`` keeps every slot non-negative."""
    m = F.lit(bits).cast("long")
    h1 = F.pmod(F.xxhash64(col), m)
    h2 = F.pmod(F.xxhash64(col, F.lit(1)), m).bitwiseOR(
        F.lit(1).cast("long")
    )
    return F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda i: F.pmod(h1 + i.cast("long") * h2, m).cast("int"),
    )


def _blooms_for_scan(
    data: DataFrame, specs: Sequence[tuple[str, int, int]]
) -> DataFrame:
    """Per-file Bloom bitsets for every ``(col, bits, k)`` spec, in ONE
    column-pruned scan of ``data`` (which carries ``_file``): rows
    explode to ``(file, col-index, bit position)`` entries for all
    specs at once, fold to set bits per 64-bit word with ``bit_or``,
    and assemble a DENSE ``array<long>`` of ``bits/64`` words per col.
    NULL values contribute no entries (an equality probe against NULL
    is never true); a file with no non-null values ends as an all-zero
    or NULL bitset — both mean "definitely absent" at read time. The
    result is eagerly checkpointed: it is a SNAPSHOT with the same
    no-silent-refresh contract as the stats pass."""
    # single-arg lambda factories: a two-parameter lambda would be
    # interpreted by F.transform as (value, index) and the captured
    # loop variable would silently become the ELEMENT INDEX column
    def _tag(ci):
        return lambda p: F.struct(F.lit(ci).alias("ci"), p.alias("pos"))

    arrs = []
    for ci, (c, bits, k) in enumerate(specs):
        ent = F.transform(_bloom_positions(F.col(c), bits, k), _tag(ci))
        # empty array OF THE SAME STRUCT TYPE for NULL values —
        # slice(ent, 1, 0) sidesteps the untyped-empty-array cast
        arrs.append(
            F.when(F.col(c).isNotNull(), ent).otherwise(F.slice(ent, 1, 0))
        )
    exploded = data.select(
        _norm_file(F.col("_file")).alias("file"),
        F.explode(F.flatten(F.array(*arrs))).alias("e"),
    ).select("file", "e.ci", "e.pos")
    words = (
        exploded.select(
            "file",
            "ci",
            F.shiftright(F.col("pos"), 6).alias("word"),
            F.expr("shiftleft(1L, pos & 63)").alias("bit"),
        )
        .groupBy("file", "ci", "word")
        .agg(F.expr("bit_or(bit)").alias("bits"))
        .groupBy("file", "ci")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("word", "bits"))
            ).alias("wmap")
        )
        .groupBy("file")
        .agg(
            *[
                F.first(
                    F.when(F.col("ci") == ci, F.col("wmap")),
                    ignorenulls=True,
                ).alias(f"_wmap_{ci}")
                for ci in range(len(specs))
            ]
        )
    )
    def _dense(ci):
        return lambda w: F.coalesce(
            F.element_at(F.col(f"_wmap_{ci}"), w), F.lit(0).cast("long")
        )

    dense = words.select(
        "file",
        *[
            F.transform(
                F.sequence(F.lit(0), F.lit(bits // 64 - 1)), _dense(ci)
            ).alias(_bloom_name(c, bits, k))
            for ci, (c, bits, k) in enumerate(specs)
        ],
    )
    # saturation diagnostic: fraction of set bits. A filter sized
    # below its file's distinct count saturates (density → 1) and
    # prunes NOTHING while looking healthy — the density column makes
    # that visible per file so a maintainer knows to rebuild with more
    # bits (target density ~0.5 at n·k/m = ln 2). Native bit_count
    # fold over the 128-long array — metadata-priced.
    dense = dense.select(
        "*",
        *[
            (
                F.aggregate(
                    F.col(_bloom_name(c, bits, k)),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + F.bit_count(x),
                )
                / F.lit(float(bits))
            ).alias(_bloom_name(c, bits, k) + "_density")
            for c, bits, k in specs
        ],
    )
    return dense.localCheckpoint(eager=True)


def build_file_stats(
    spark,
    path: str,
    cols: Sequence[str],
    glob: str = "*.parquet",
    bloom_cols: Sequence[str] | None = None,
    bloom_bits: int = 32768,
    bloom_k: int = 6,
    ndv: bool = True,
) -> DataFrame:
    """Per-FILE zone map over ``cols``: ``(file, length, mtime, n_rows,
    <col>_min, <col>_max, <col>_nulls …)`` — the file-level analog of
    parquet's row-group statistics, and the companion that makes
    :func:`write_zordered` / :func:`write_sorted` pay off twice.

    Why file-level when parquet already has row-group stats: row-group
    stats prune AFTER a task opens the footer — the scheduler still
    lists, plans, and launches a task per file. At 10**6 files × 100 TB,
    scheduling is its own cost; a zone map consulted BEFORE the read
    (:func:`read_pruned`) shrinks the file LIST, which is what table
    formats keep min/max per data file in the manifest for. On a
    clustered layout (z-order/sort) the per-file ranges are narrow and
    most files drop.

    One distributed columnar pass builds it: read ONLY ``cols``
    (column-pruned scan), group by ``input_file_name()``. The
    ``(length, mtime)`` captured from the listing lets
    :func:`read_pruned` detect a stale index instead of trusting it.
    Persist with plain ``.write.parquet`` wherever convenient — the
    frame is O(files) rows of metadata.

    The returned frame is a SNAPSHOT (both the data pass and the
    listing are eagerly ``localCheckpoint``-ed at build): a later
    write to ``path`` cannot silently refresh it through Spark's
    cache-invalidation-by-path, so the strict staleness check in
    :func:`read_pruned` compares the build-time state against the
    CURRENT listing, as intended (review finding: a lineage-bearing
    index re-listed after an append and waved the drift through).
    Files present in the listing but absent from the data pass are
    verified ZERO-ROW by a driver-side footer read — a zero-row part
    file belongs in the index (its NULL zone correctly never
    matches), while a file ADDED between the two scans has rows and
    must fail the build loudly instead of entering the index as an
    unprunable-looking-but-pruned entry (silent row loss).

    ``bloom_cols`` adds a per-file BLOOM FILTER sidecar (``bloom_bits``
    bits, ``bloom_k`` hashes, stored as a dense ``array<long>`` named
    ``<col>_bloom_<bits>x<k>``) — the equality-probe complement of the
    min/max zone. Zones prune RANGE predicates and only pay off on a
    clustered column; a point lookup on an UNSORTED column (every file
    spans the full value range) prunes nothing. The Bloom sidecar
    answers "can value v appear in this file at all" regardless of
    layout — the same per-data-file bloom table formats keep in their
    manifests — so a needle query over 100 TB opens the handful of
    files whose filter fires instead of all of them. Cost: one extra
    column-pruned scan at build, ``bits/8`` bytes per file per column
    (4 KiB at the 32768-bit default) in the O(files) index. Probe side:
    :func:`read_pruned` with ``eq=``. False-positive rate follows the
    standard ``(1 - e^{-kn/m})^k``; at 32768 bits / 6 hashes a file
    with 1,000 distinct values probes at ~0.002%, one with 2,000 at
    ~0.08% (8192 bits would give ~2% and ~20%). Size a filter for more
    distinct values per file with :func:`suggest_bloom_bits`."""
    cols = list(cols)
    if not cols:
        raise ValueError("cols must be non-empty")
    bloom_cols = list(bloom_cols or [])
    if len(set(bloom_cols)) != len(bloom_cols):
        raise ValueError(
            f"bloom_cols has duplicates: {bloom_cols} — two identically-"
            "named sidecar columns would fail far away at index write "
            "time with an ambiguous-column error"
        )
    specs = []
    for c in bloom_cols:
        _validate_bloom(bloom_bits, bloom_k)
        if c not in cols:
            raise ValueError(
                f"bloom column {c!r} must also be in cols — the "
                "equality probe reads the column's type and zone off "
                f"the stored {c}_min/{c}_max"
            )
        specs.append((c, bloom_bits, bloom_k))
    data = (
        spark.read.parquet(path)
        .select(*dict.fromkeys([*cols, *(c for c, _, _ in specs)]))
        .withColumn("_file", F.input_file_name())
    )
    # the listing factory runs AFTER the stats scan materializes
    # (ordering matters: a file added DURING the long scan must appear
    # in the listing so the extras footer-check can fail loudly; a
    # listing taken first would miss it on both sides and the file
    # would silently never enter the index)
    return _stats_for_listing(
        data,
        lambda: _snapshot_listing(spark, path, glob),
        cols,
        path,
        bloom_specs=specs,
        ndv_cols=cols if ndv else (),
    )


#: input_file_name() and the binaryFile listing may spell the URI
#: differently (file:/ vs file:///) — normalize both join sides
_norm_file = lambda c: F.regexp_replace(c, "^file:/+", "/")  # noqa: E731


def _snapshot_listing(spark, path: str, glob: str) -> DataFrame:
    from big_data_hadoop_spark.sources.io import list_data_files

    return (
        list_data_files(spark, path, glob=glob)
        .select(
            _norm_file(F.col("path")).alias("file"),
            "length",
            F.unix_millis("modificationTime").alias("mtime"),
        )
        .localCheckpoint(eager=True)
    )


def _stats_for_listing(
    data: DataFrame,
    listing_factory,
    cols: list[str],
    path: str,
    bloom_specs: Sequence[tuple[str, int, int]] = (),
    ndv_cols: Sequence[str] = (),
) -> DataFrame:
    """Zone-map rows from the column-pruned scan ``data``, keyed under
    the listing ``listing_factory()`` produces — invoked only AFTER
    the scan has materialized, so a file added mid-scan shows up as a
    listing-only extra and the footer check below can refuse loudly.
    Shared by the full build and the incremental refresh. Bloom
    sidecars run as a second scan BEFORE the listing for the same
    reason: a file added between the two scans is a listing-only extra
    (footer-verified loud), never a silently bloom-less index row."""
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs += [
            F.min(c).alias(f"{c}_min"),
            F.max(c).alias(f"{c}_max"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}_nulls"),
        ]
        if c in ndv_cols:
            # approximate per-file distinct count (HLL++, same agg
            # pass) — what sizes the Bloom sidecar (suggest_bloom_bits)
            # instead of guessing, and the NDV every table format's
            # column stats carry for the planner
            aggs.append(F.approx_count_distinct(c).alias(f"{c}_ndv"))
    stats = (
        data.groupBy(_norm_file(F.col("_file")).alias("file"))
        .agg(*aggs)
        .localCheckpoint(eager=True)
    )
    if bloom_specs:
        blooms = _blooms_for_scan(data, list(bloom_specs))
        stats = stats.join(blooms, "file", "left")
    listing = listing_factory()
    joined = listing.join(stats, "file", "left")
    extras = [
        r.file for r in joined.filter(F.col("n_rows").isNull()).collect()
    ]
    if extras:
        import pyarrow.parquet as pq

        for f in extras:
            n = pq.ParquetFile(f).metadata.num_rows
            if n:
                raise ValueError(
                    f"dataset at {path} changed while the stats pass "
                    f"ran: {f} holds {n} rows but was missed by the "
                    "scan — rebuild/refresh the index (indexing it "
                    "with an empty zone would silently prune its rows)"
                )
    return joined.withColumn("n_rows", F.coalesce("n_rows", F.lit(0)))


def refresh_file_stats(
    spark,
    path: str,
    stats: DataFrame,
    glob: str = "*.parquet",
    info: dict | None = None,
) -> DataFrame:
    """Incrementally refresh a :func:`build_file_stats` index after the
    dataset at ``path`` changed: index rows for UNCHANGED files (same
    ``(file, length, mtime)``) are kept as-is, vanished files drop, and
    only NEW or REWRITTEN files are re-scanned. Cost is O(changed
    bytes) + one metadata listing — after an upsert or compaction that
    rewrote one partition of a 100 TB table, the re-index touches that
    partition, not the table (the same incremental-manifest discipline
    table formats use for their per-file stats).

    The indexed columns are read off the old index's ``*_min`` schema,
    so the refreshed frame unions cleanly with the kept rows and is
    interchangeable with a fresh full build (equality pinned by test).
    Like the build, the result is a checkpointed SNAPSHOT, and the
    refresh RE-LISTS the dataset after its scan: any concurrent change
    (a file added, removed, or rewritten while the refresh ran — the
    scan here is scoped to the pre-listed changed files, so a mid-scan
    arrival would otherwise be invisible) fails loudly instead of
    yielding an index that silently omits it."""
    cols = [c[: -len("_min")] for c in stats.columns if c.endswith("_min")]
    if not cols:
        raise ValueError(
            "stats frame has no <col>_min columns — not a "
            "build_file_stats index"
        )
    # Bloom sidecars are self-describing via their column names, so the
    # re-scan of changed files rebuilds them with the exact build-time
    # (bits, k) — kept rows keep their stored bitsets untouched
    bloom_specs = _bloom_specs_from_schema(stats.columns)
    current = _snapshot_listing(spark, path, glob)
    keys = ["file", "length", "mtime"]
    keep = current.join(stats, keys, "inner").select(*stats.columns)
    changed = current.join(stats.select(*keys), keys, "left_anti")
    changed_files = [r.file for r in changed.collect()]
    if info is not None:
        # change accounting for callers (maintain_file_stats skips its
        # index rewrite when nothing changed): files needing a
        # re-scan, and whether ANY stored row's file vanished/was
        # rewritten (a limit(1) probe, not a count — and skipped
        # entirely when changed_files already forces the rewrite)
        info["changed_files"] = len(changed_files)
        info["removed_any"] = bool(changed_files) or bool(
            stats.select(*keys)
            .join(current, keys, "left_anti")
            .limit(1)
            .count()
        )
    if changed_files:
        changed = changed.localCheckpoint(eager=True)
        data = (
            spark.read.option("basePath", path)
            .parquet(*changed_files)
            .select(
                *dict.fromkeys([*cols, *(c for c, _, _ in bloom_specs)])
            )
            .withColumn("_file", F.input_file_name())
        )
        fresh = _stats_for_listing(
            data,
            lambda: changed,
            cols,
            path,
            bloom_specs=bloom_specs,
            # legacy indexes without NDV stay NDV-free (schema-driven,
            # like the bloom specs) so the union keeps their shape
            ndv_cols=[c for c in cols if f"{c}_ndv" in stats.columns],
        )
        out = keep.unionByName(fresh.select(*stats.columns))
    else:
        out = keep
    # post-refresh guard: re-list and require exact agreement with the
    # pre-scan listing — the refresh's scan covers only the pre-listed
    # changed files, so anything that landed meanwhile must abort the
    # refresh loudly, not be silently absent from the returned index
    recheck = _snapshot_listing(spark, path, glob)
    drift = (
        current.withColumn("_pre", F.lit(1))
        .join(recheck.withColumn("_post", F.lit(1)), keys, "full_outer")
        .filter(F.col("_pre").isNull() | F.col("_post").isNull())
        .limit(1)
        .count()
    )
    if drift:
        raise ValueError(
            f"dataset at {path} changed while refresh_file_stats ran — "
            "files were added/removed/rewritten mid-refresh; re-run the "
            "refresh (returning the index would silently omit them)"
        )
    return out


def _bloom_membership_cond(bloom_col: str, positions) -> Column:
    """JVM-side membership test of known probe ``positions`` against
    each index row's dense bitset — the driver never collects bitsets
    (1 KiB × 10⁶ files would be a ~1 GiB driver pull per point lookup;
    review finding), only the surviving file names, the same
    planner-sized state the zone-only path holds. Positions sharing a
    64-bit word fold into one ``x & mask == mask`` term; masks with
    bit 63 are passed as their signed Java value. A NULL bitset (no
    non-null values in the file) fails ``isNotNull`` → pruned."""
    need: dict[int, int] = {}
    for p in positions:
        need[p >> 6] = need.get(p >> 6, 0) | (1 << (p & 63))
    arr = F.col(bloom_col)
    cond = arr.isNotNull()
    for w, mask in sorted(need.items()):
        if mask >= 1 << 63:
            mask -= 1 << 64
        cond = cond & (
            F.element_at(arr, w + 1).bitwiseAND(F.lit(mask)) == F.lit(mask)
        )
    return cond


def read_pruned(
    spark,
    path: str,
    stats: DataFrame,
    col: str,
    lo=None,
    hi=None,
    strict: bool = True,
    glob: str = "*.parquet",
    eq=None,
) -> DataFrame:
    """Read the dataset at ``path`` touching ONLY the files whose
    ``[min, max]`` zone (from :func:`build_file_stats`) can contain a
    row with ``lo <= col <= hi`` (either bound may be None for a
    half-open range), then re-apply the row-level filter — the zone map
    prunes files, parquet row-group stats prune within them, the
    filter settles the rows. An all-NULL zone (min/max NULL) cannot
    satisfy a range predicate and is pruned.

    Staleness contract: the index describes the files it was built
    from. With ``strict=True`` (default) any drift — a file added,
    removed, or rewritten (length/mtime changed) since the build —
    raises, because pruning with a stale map silently DROPS rows of
    new files; pass ``strict=False`` only when the dataset is
    immutable-by-convention and the check's listing cost matters.
    ``glob`` must match the one given to :func:`build_file_stats`
    (both default to ``*.parquet``) — a mismatched pair makes the
    strict check compare different listings and raise spuriously.
    The driver holds the matching file list (O(matching files) — the
    same planner-sized state every format's pruning step holds).

    The pruned read passes ``basePath`` so hive-style partition
    directories (``day=.../part-*.parquet``) keep contributing their
    partition columns — the schema matches the unpruned read exactly,
    and ``col`` may itself be a partition column.

    ``eq=v`` is the POINT-LOOKUP form (mutually exclusive with
    ``lo``/``hi``): the zone check degenerates to ``min <= v <= max``,
    and when the index carries a Bloom sidecar for ``col``
    (:func:`build_file_stats` ``bloom_cols``) every zone-surviving
    file is additionally tested against its per-file bitset — on an
    unclustered column, where every file's zone spans the full range
    and prunes nothing, the bloom is what collapses the needle query
    to a handful of files. The probe value is hashed by the SAME
    expression that built the filters, cast to the indexed column's
    type (read off the stored ``<col>_min`` schema) so an int probe
    against a long column cannot hash differently. Without a sidecar,
    ``eq`` falls back to zone-only pruning — correct, just weaker."""
    if eq is not None and (lo is not None or hi is not None):
        raise ValueError("eq is mutually exclusive with lo/hi")
    pred: dict = {}
    if eq is not None:
        pred["eq"] = eq
    if lo is not None:
        pred["lo"] = lo
    if hi is not None:
        pred["hi"] = hi
    if not pred:
        raise ValueError("one of eq, lo, hi is required")
    return read_pruned_where(
        spark, path, stats, {col: pred}, strict=strict, glob=glob
    )


def _strict_staleness_check(spark, path: str, stats: DataFrame, glob: str):
    from big_data_hadoop_spark.sources.io import list_data_files

    current = list_data_files(spark, path, glob=glob).select(
        _norm_file(F.col("path")).alias("file"),
        "length",
        F.unix_millis("modificationTime").alias("mtime"),
    )
    indexed = stats.select("file", "length", "mtime").withColumn(
        "_in_index", F.lit(1)
    )
    # USING-join coalesces the key columns, so drift shows up as a
    # NULL side MARKER, not a NULL key
    drift = (
        current.withColumn("_on_disk", F.lit(1))
        .join(indexed, ["file", "length", "mtime"], "full_outer")
        .filter(F.col("_in_index").isNull() | F.col("_on_disk").isNull())
        .limit(1)
        .count()
    )
    if drift:
        raise ValueError(
            f"file-stats index is STALE for {path} — files were "
            "added/removed/rewritten since build_file_stats; "
            "rebuild the index (pruning with it would silently "
            "drop rows)"
        )


def read_pruned_where(
    spark,
    path: str,
    stats: DataFrame,
    preds: dict,
    strict: bool = True,
    glob: str = "*.parquet",
) -> DataFrame:
    """Conjunctive multi-column pruned read — the general form behind
    :func:`read_pruned`: ``preds`` maps each indexed column to
    ``{"lo": v}`` / ``{"hi": v}`` / both (range) or ``{"eq": v}``
    (point, Bloom-assisted when the sidecar exists). A file survives
    only if EVERY predicate's zone/bloom test passes — the natural
    "this key, this date range" shape where neither predicate alone
    is selective but their intersection is one file. One pass over
    the O(files) index evaluates the whole conjunction; the row-level
    filter re-applies all predicates on the surviving files. Same
    staleness contract as :func:`read_pruned`."""
    if not preds:
        raise ValueError("preds must be non-empty")
    if strict:
        _strict_staleness_check(spark, path, stats, glob)
    cond = F.lit(True)
    row_filter = F.lit(True)
    for col, p in preds.items():
        if f"{col}_min" not in stats.columns:
            raise ValueError(
                f"column {col} is not in the stats index "
                f"(have {sorted(c[:-4] for c in stats.columns if c.endswith('_min'))})"
            )
        unknown = set(p) - {"eq", "lo", "hi"}
        if unknown or not p:
            raise ValueError(
                f"predicate for {col} must use keys eq/lo/hi, got "
                f"{sorted(p) or 'nothing'}"
            )
        if "eq" in p and ("lo" in p or "hi" in p):
            raise ValueError(f"{col}: eq is mutually exclusive with lo/hi")
        if "eq" in p:
            eq = p["eq"]
            dtype = stats.schema[f"{col}_min"].dataType
            probe = F.lit(eq).cast(dtype)
            # the probe must ROUND-TRIP through the column type:
            # casting 10.5 to a long column truncates to 10 and would
            # answer an equality query for a DIFFERENT value (review
            # finding). A non-representable probe can match no row —
            # return the schema-preserving empty frame, the true
            # semantics of `col = eq` under type promotion. try_cast
            # turns an un-castable probe (ANSI would raise) into NULL.
            # ONE range(1) job computes both the round-trip flag and
            # the Bloom probe positions (review finding: two separate
            # head() jobs per eq predicate).
            specs = [
                s
                for s in _bloom_specs_from_schema(stats.columns)
                if s[0] == col
            ]
            sel = [
                F.coalesce(
                    F.lit(eq).try_cast(dtype) == F.lit(eq), F.lit(False)
                ).alias("ok")
            ]
            if specs:
                _c, bits, k = specs[0]
                sel.append(_bloom_positions(probe, bits, k).alias("p"))
            row = spark.range(1).select(*sel).head()
            if not row["ok"]:
                return spark.read.parquet(path).filter(F.lit(False))
            cond = cond & (
                F.col(f"{col}_min").isNotNull()
                & (F.col(f"{col}_max") >= probe)
                & (F.col(f"{col}_min") <= probe)
            )
            if specs:
                c, bits, k = specs[0]
                cond = cond & _bloom_membership_cond(
                    _bloom_name(c, bits, k), row["p"]
                )
            row_filter = row_filter & (F.col(col) == probe)
        else:
            zcond = F.col(f"{col}_min").isNotNull()
            if "lo" in p:
                zcond = zcond & (F.col(f"{col}_max") >= F.lit(p["lo"]))
                row_filter = row_filter & (F.col(col) >= F.lit(p["lo"]))
            if "hi" in p:
                zcond = zcond & (F.col(f"{col}_min") <= F.lit(p["hi"]))
                row_filter = row_filter & (F.col(col) <= F.lit(p["hi"]))
            cond = cond & zcond
    files = [r.file for r in stats.filter(cond).select("file").collect()]
    if not files:
        return (
            spark.read.parquet(path).filter(F.lit(False))
        )  # schema-preserving empty
    return (
        spark.read.option("basePath", path)
        .parquet(*files)
        .filter(row_filter)
    )


def analyze_from_stats(stats: DataFrame) -> dict:
    """Table-level profile rolled up from a zone-map index frame —
    the ZERO-DATA-SCAN sibling of ``io.analyze_table``: ``n_rows``,
    ``n_files``, ``total_bytes`` and per-column ``{min, max, nulls}``
    come from one aggregation over the O(files) index (min of file
    mins, max of file maxes, sum of null counts), which is why table
    formats answer these from the manifest. Honest limitation: NDV is
    NOT derivable from per-file NDV counts (HLL sketches would merge;
    their cardinalities do not), so each column reports
    ``ndv_per_file_max`` — a lower bound on table NDV and exactly the
    number :func:`suggest_bloom_bits` wants — instead of a fake
    table-level ndv."""
    cols = [c[: -len("_min")] for c in stats.columns if c.endswith("_min")]
    if not cols:
        raise ValueError(
            "stats frame has no <col>_min columns — not a "
            "build_file_stats index"
        )
    aggs = [
        F.count(F.lit(1)).alias("n_files"),
        F.coalesce(F.sum("n_rows"), F.lit(0)).alias("n_rows"),
        F.coalesce(F.sum("length"), F.lit(0)).alias("total_bytes"),
    ]
    for c in cols:
        aggs += [
            F.min(f"{c}_min").alias(f"{c}__min"),
            F.max(f"{c}_max").alias(f"{c}__max"),
            F.coalesce(F.sum(f"{c}_nulls"), F.lit(0)).alias(f"{c}__nulls"),
        ]
        if f"{c}_ndv" in stats.columns:
            aggs.append(F.max(f"{c}_ndv").alias(f"{c}__ndvmax"))
    row = stats.agg(*aggs).first()
    from big_data_hadoop_spark.sources.io import _json_safe as _j

    out: dict = {
        "n_rows": row["n_rows"],
        "n_files": row["n_files"],
        "total_bytes": row["total_bytes"],
        "columns": {},
    }
    for c in cols:
        col: dict = {
            "min": _j(row[f"{c}__min"]),
            "max": _j(row[f"{c}__max"]),
            "nulls": row[f"{c}__nulls"],
        }
        if f"{c}_ndv" in stats.columns:
            col["ndv_per_file_max"] = row[f"{c}__ndvmax"]
        out["columns"][c] = col
    return out


def maintain_file_stats(
    spark,
    path: str,
    stats_path: str,
    cols: Sequence[str] | None = None,
    glob: str = "*.parquet",
    lock=None,
    bloom_cols: Sequence[str] | None = None,
    bloom_bits: int = 32768,
    bloom_k: int = 6,
) -> None:
    """Keep a PERSISTED zone-map index at ``stats_path`` in step with
    the dataset at ``path``: load the stored index, incrementally
    :func:`refresh_file_stats` it (only new/rewritten files re-scan),
    and stage-and-swap the new index generation. With no stored index
    yet, ``cols`` bootstraps a full :func:`build_file_stats` (without
    ``cols`` that case refuses loudly — the stored index is what
    remembers which columns are indexed).

    This is the manifest-maintenance half of what table formats do on
    every commit. The mutable-table verbs accept ``stats_path=`` and
    call this under their single-writer claim (the index write is then
    serialized exactly like the data write); standalone calls must be
    externally serialized the same way — two concurrent maintainers
    race their stage-and-swap like any unclaimed writer would.

    ``lock`` (a held ``_TableWriteLock`` — the verbs pass theirs)
    extends the data layer's steal-detection to the index swap: a
    writer suspended past the staleness grace cannot silently replace
    a stealing writer's fresher index generation.

    Readers: :func:`read_pruned_indexed`. The index swap uses the same
    rename discipline as the data layer: a killed swap strands a
    ``.old`` generation which BOTH maintainers and readers recover
    (:func:`read_pruned_indexed` runs the recovery too), and the
    exposed window is the same one-syscall rename gap every swap in
    this engine has. When nothing changed (no new/rewritten/vanished
    files), the call is a true no-op — no index rewrite, no swap —
    so scheduled maintenance on a quiet table costs two listings."""
    from big_data_hadoop_spark.sources.io import _recover_generation, _swap_in

    _recover_generation(stats_path)
    if os.path.exists(stats_path):
        stored = spark.read.parquet(stats_path).localCheckpoint(eager=True)
        if cols:
            have = sorted(
                c[: -len("_min")]
                for c in stored.columns
                if c.endswith("_min")
            )
            if sorted(cols) != have:
                raise ValueError(
                    f"stored index at {stats_path} covers columns "
                    f"{have}, not {sorted(cols)} — indexing different "
                    "columns needs a rebuild (delete the index and "
                    "bootstrap again); silently keeping the old set "
                    "would fail later at read_pruned time"
                )
        if bloom_cols is not None:
            want = sorted(
                _bloom_name(c, bloom_bits, bloom_k) for c in bloom_cols
            )
            have_bloom = sorted(
                _bloom_name(c, b, k)
                for c, b, k in _bloom_specs_from_schema(stored.columns)
            )
            if want != have_bloom:
                raise ValueError(
                    f"stored index at {stats_path} carries bloom "
                    f"sidecars {have_bloom}, not {want} — changing "
                    "bloom columns or parameters needs a rebuild "
                    "(delete the index and bootstrap again)"
                )
        info: dict = {}
        fresh = refresh_file_stats(spark, path, stored, glob=glob, info=info)
        if not info["changed_files"] and not info["removed_any"]:
            return  # nothing changed — skip the rewrite and swap
    elif cols:
        fresh = build_file_stats(
            spark,
            path,
            list(cols),
            glob=glob,
            bloom_cols=bloom_cols,
            bloom_bits=bloom_bits,
            bloom_k=bloom_k,
        )
    else:
        raise ValueError(
            f"no stored index at {stats_path} and no cols given — "
            "bootstrap with maintain_file_stats(..., cols=[...]) or "
            "build_file_stats + write.parquet once"
        )
    staging = stats_path + ".staging"
    fresh.write.mode("overwrite").parquet(staging)
    _swap_in(staging, stats_path, lock)


def read_pruned_indexed(
    spark,
    path: str,
    stats_path: str,
    col: str | None = None,
    lo=None,
    hi=None,
    strict: bool = True,
    glob: str = "*.parquet",
    eq=None,
    preds: dict | None = None,
) -> DataFrame:
    """:func:`read_pruned` against the PERSISTED index at
    ``stats_path`` (see :func:`maintain_file_stats`) — the end-to-end
    read path: load O(files) index rows, prune the file list, read
    only surviving files. ``strict`` keeps the staleness check: an
    index that missed a mutation (the verb ran without ``stats_path``,
    or a foreign writer bypassed the verbs) raises instead of silently
    dropping the unindexed files' rows. A maintainer killed mid-swap
    strands the index as ``.old`` — readers fall back to READING that
    previous generation (never renaming: a reader-side rename would
    race a live writer's swap mid-gap and crash its publish — review
    finding); the next maintainer performs the actual restore.
    ``preds`` routes to :func:`read_pruned_where` for conjunctive
    multi-column pruning (mutually exclusive with ``col/lo/hi/eq``)."""
    idx = stats_path
    if not os.path.exists(idx) and os.path.exists(idx + ".old"):
        idx = idx + ".old"
    stats = spark.read.parquet(idx)
    if preds is not None:
        if col is not None or any(v is not None for v in (lo, hi, eq)):
            raise ValueError("preds is mutually exclusive with col/lo/hi/eq")
        return read_pruned_where(
            spark, path, stats, preds, strict=strict, glob=glob
        )
    if col is None:
        raise ValueError("either col or preds is required")
    return read_pruned(
        spark,
        path,
        stats,
        col,
        lo=lo,
        hi=hi,
        strict=strict,
        glob=glob,
        eq=eq,
    )
