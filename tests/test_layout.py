"""Z-order layout (``sources.layout``): z-value bit contract against a
pure-Python replication, and the actual pruning payoff — per-file
parquet min-max spans must be narrow on BOTH dimensions simultaneously,
which a single-column sort cannot achieve."""

from __future__ import annotations

import math
import os

import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from big_data_hadoop_spark.sources.io import load_table
from big_data_hadoop_spark.sources.layout import write_zordered, zorder_value

SF = "/root/testdata/sf0.01"
BITS = 8


def _py_z(vals, mins, maxs, bits):
    n = len(vals)
    top = (1 << bits) - 1
    z = 0
    for i, (v, mn, mx) in enumerate(zip(vals, mins, maxs)):
        span = mx - mn
        if v is None or span <= 0:
            b = 0
        else:
            b = min(max(int(math.floor((float(v) - mn) / span * top)), 0), top)
        for k in range(bits):
            z += ((b >> k) & 1) << (k * n + i)
    return z


def test_zvalue_matches_python(spark):
    li = load_table(spark, SF, "lineitem").select(
        "l_orderkey", "l_partkey"
    ).limit(200)
    stats = li.agg(
        F.min(F.col("l_orderkey").cast("double")).alias("_zs_min_l_orderkey"),
        F.max(F.col("l_orderkey").cast("double")).alias("_zs_max_l_orderkey"),
        F.min(F.col("l_partkey").cast("double")).alias("_zs_min_l_partkey"),
        F.max(F.col("l_partkey").cast("double")).alias("_zs_max_l_partkey"),
    )
    srow = stats.collect()[0]
    got = (
        li.join(F.broadcast(stats))
        .withColumn("_z", zorder_value(["l_orderkey", "l_partkey"], bits=BITS))
        .collect()
    )
    mins = (srow["_zs_min_l_orderkey"], srow["_zs_min_l_partkey"])
    maxs = (srow["_zs_max_l_orderkey"], srow["_zs_max_l_partkey"])
    assert len(got) == 200
    for r in got:
        want = _py_z((r["l_orderkey"], r["l_partkey"]), mins, maxs, BITS)
        assert r["_z"] == want, (r["l_orderkey"], r["l_partkey"])


def _file_spans(path, col):
    """Mean normalized per-file [min, max] span of ``col`` across the
    parquet files under ``path`` (file-level stats = what a scan's
    file-skipping sees)."""
    spans, los, his = [], [], []
    for f in sorted(os.listdir(path)):
        if not f.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(path, f)).metadata
        lo = min(
            md.row_group(g).column(
                next(
                    i
                    for i in range(md.num_columns)
                    if md.row_group(g).column(i).path_in_schema == col
                )
            ).statistics.min
            for g in range(md.num_row_groups)
        )
        hi = max(
            md.row_group(g).column(
                next(
                    i
                    for i in range(md.num_columns)
                    if md.row_group(g).column(i).path_in_schema == col
                )
            ).statistics.max
            for g in range(md.num_row_groups)
        )
        spans.append(hi - lo)
        los.append(lo)
        his.append(hi)
    total = max(his) - min(los)
    assert total > 0
    return sum(spans) / len(spans) / total


def test_zorder_narrows_both_dimensions(spark, tmp_path):
    li = load_table(spark, SF, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    plain = str(tmp_path / "plain")
    zord = str(tmp_path / "zord")
    # baseline: single-column sort (perfect on orderkey, blind on partkey)
    li.repartitionByRange(16, "l_orderkey").sortWithinPartitions(
        "l_orderkey"
    ).write.parquet(plain)
    write_zordered(li, zord, ["l_orderkey", "l_partkey"], bits=BITS, n_files=16)
    # parity first
    a = spark.read.parquet(zord)
    assert a.count() == li.count()
    assert a.agg(F.sum("l_quantity")).collect()[0][0] == pytest.approx(
        li.agg(F.sum("l_quantity")).collect()[0][0]
    )
    # z-layout: BOTH dims substantially narrower than the full range
    # (a 1/16 z-range's bounding box covers ~1/4 of each dimension,
    # plus block-straddling at file boundaries); single-sort layout:
    # the second dim spans ~everything per file.
    z_ok = _file_spans(zord, "l_orderkey")
    z_pk = _file_spans(zord, "l_partkey")
    s_pk = _file_spans(plain, "l_partkey")
    assert s_pk > 0.8          # blind dimension of the single sort
    assert z_ok < 0.55
    assert z_pk < 0.55
    assert z_pk < s_pk / 1.8


def test_zorder_validation(spark):
    li = load_table(spark, SF, "lineitem")
    with pytest.raises(ValueError):
        zorder_value([], bits=8)
    with pytest.raises(ValueError):
        zorder_value(["a", "b"], bits=40)  # 80 bits > signed 64


def test_nan_values_do_not_poison_the_dimension(spark):
    """Review finding: one NaN made max() NaN, bucketing EVERY row to
    the same NaN bucket; NaN rows must map to bucket 0 while clean rows
    keep their discrimination."""
    rows = [(i, float(i), float(i) if i != 3 else float("nan")) for i in range(8)]
    df = spark.createDataFrame(rows, "id long, a double, b double")
    from pyspark.sql import functions as F

    from big_data_hadoop_spark.sources.layout import zorder_value

    stats = df.agg(
        F.min(F.when(~F.isnan("a"), F.col("a"))).alias("_zs_min_a"),
        F.max(F.when(~F.isnan("a"), F.col("a"))).alias("_zs_max_a"),
        F.min(F.when(~F.isnan("b"), F.col("b"))).alias("_zs_min_b"),
        F.max(F.when(~F.isnan("b"), F.col("b"))).alias("_zs_max_b"),
    )
    got = (
        df.join(F.broadcast(stats))
        .withColumn("_z", zorder_value(["a", "b"], bits=4))
        .collect()
    )
    zs = {r["id"]: r["_z"] for r in got}
    assert len(set(zs.values())) > 4  # discrimination retained
    # the NaN row contributes bucket 0 on b but still buckets on a
    assert zs[3] != zs[0]


def test_zorder_write_with_nan_column(spark, tmp_path):
    import math

    rows = [(i, float(i), math.nan if i % 5 == 0 else float(i * 2)) for i in range(50)]
    df = spark.createDataFrame(rows, "id long, a double, b double")
    from big_data_hadoop_spark.sources.layout import write_zordered

    out = str(tmp_path / "z_nan")
    write_zordered(df, out, ["a", "b"], bits=6, n_files=4)
    assert spark.read.parquet(out).count() == 50


def test_write_sorted_disjoint_file_ranges(spark, tmp_path):
    """Each output file's parquet min/max on the sort key must cover a
    DISJOINT range in file order, so a point predicate prunes to one
    file."""
    import glob

    import pyarrow.parquet as pq

    from big_data_hadoop_spark.sources.layout import write_sorted

    path = str(tmp_path / "srt")
    df = spark.range(10_000).selectExpr(
        "pmod(id * 2654435761, 10000) AS key", "id AS v"
    )
    write_sorted(df, path, ["key"], n_files=8)
    stats = []
    for p in sorted(glob.glob(path + "/part-*.parquet")):
        md = pq.ParquetFile(p).metadata
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(0)
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        if mins:
            stats.append((min(mins), max(maxs)))
    assert len(stats) >= 4
    ordered = sorted(stats)
    for (_, hi), (lo2, _) in zip(ordered, ordered[1:]):
        assert hi <= lo2  # disjoint, adjacent ranges
    # data intact and each file internally sorted
    back = spark.read.parquet(path)
    assert back.count() == 10_000
    import pytest as _pytest

    with _pytest.raises(ValueError):
        write_sorted(df, path, [])


def test_file_stats_prune_zordered_dataset(spark, tmp_path):
    """Zone map over a z-ordered write: a narrow range predicate must
    read a strict subset of files, return exactly the rows the full
    scan's filter returns, and an all-NULL zone is pruned."""
    from big_data_hadoop_spark.sources.layout import (
        build_file_stats,
        read_pruned,
        write_zordered,
    )

    path = str(tmp_path / "zm")
    df = spark.range(0, 4000).select(
        F.col("id"),
        (F.col("id") % 61).alias("x"),
        (F.pmod(F.col("id") * 37, F.lit(101))).alias("y"),
    )
    write_zordered(df, path, ["x", "y"], n_files=8)
    stats = build_file_stats(spark, path, ["x", "y"])
    assert stats.count() == 8
    got = sorted(
        r.id for r in read_pruned(spark, path, stats, "x", lo=5, hi=9).collect()
    )
    want = sorted(
        r.id
        for r in spark.read.parquet(path)
        .filter((F.col("x") >= 5) & (F.col("x") <= 9))
        .collect()
    )
    assert got == want and got
    # the zone map must actually prune: matching files < all files
    cond = (F.col("x_max") >= 5) & (F.col("x_min") <= 9)
    n_match = stats.filter(cond).count()
    assert n_match < 8, "no pruning on a z-ordered layout"


def test_file_stats_strict_staleness(spark, tmp_path):
    from big_data_hadoop_spark.sources.layout import (
        build_file_stats,
        read_pruned,
    )

    path = str(tmp_path / "st")
    spark.range(0, 100).select(
        F.col("id"), (F.col("id") % 7).alias("x")
    ).repartition(4).write.parquet(path)
    stats = build_file_stats(spark, path, ["x"]).cache()
    stats.count()
    ok = read_pruned(spark, path, stats, "x", lo=0, hi=3)
    assert ok.count() > 0
    # drift: add a file after the build
    spark.range(100, 120).select(
        F.col("id"), (F.col("id") % 7).alias("x")
    ).coalesce(1).write.mode("append").parquet(path)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="STALE"):
        read_pruned(spark, path, stats, "x", lo=0, hi=3).count()
    # non-strict proceeds on the indexed subset (documented escape hatch)
    assert read_pruned(
        spark, path, stats, "x", lo=0, hi=3, strict=False
    ).count() == ok.count()


def test_file_stats_empty_match_keeps_schema(spark, tmp_path):
    from big_data_hadoop_spark.sources.layout import (
        build_file_stats,
        read_pruned,
    )

    path = str(tmp_path / "em")
    spark.range(0, 50).select(
        F.col("id"), (F.col("id") % 5).alias("x")
    ).write.parquet(path)
    stats = build_file_stats(spark, path, ["x"])
    out = read_pruned(spark, path, stats, "x", lo=100, hi=200)
    assert out.count() == 0
    assert set(out.columns) == {"id", "x"}


def test_file_stats_zero_row_file_not_false_stale(spark, tmp_path):
    """A zero-row part file must enter the index (NULL zone, n_rows 0)
    instead of triggering a permanent false-STALE loop in strict
    read_pruned (review finding: the inner join dropped it)."""
    from pyspark.sql import types as T

    from big_data_hadoop_spark.sources.layout import (
        build_file_stats,
        read_pruned,
    )

    path = str(tmp_path / "zr")
    spark.range(0, 40).select(
        F.col("id"), (F.col("id") % 5).alias("x")
    ).coalesce(1).write.parquet(path)
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("x", T.LongType()),
        ]
    )
    spark.createDataFrame([], schema).coalesce(1).write.mode(
        "append"
    ).parquet(path)
    stats = build_file_stats(spark, path, ["x"])
    by_rows = {r.file: r.n_rows for r in stats.collect()}
    assert sorted(by_rows.values()) == [0, 40]
    # strict passes on a freshly built index and returns correct rows
    got = sorted(
        r.id for r in read_pruned(spark, path, stats, "x", lo=1, hi=2).collect()
    )
    want = sorted(
        r.id
        for r in spark.read.parquet(path)
        .filter(F.col("x").between(1, 2))
        .collect()
    )
    assert got == want and got


def test_file_stats_snapshot_without_cache(spark, tmp_path):
    """The index is a build-time snapshot even UNCACHED: an append
    after the build must raise STALE in strict mode, not be silently
    absorbed by Spark's cache-invalidation-by-path re-listing the
    lineage (review finding)."""
    from big_data_hadoop_spark.sources.layout import (
        build_file_stats,
        read_pruned,
    )

    path = str(tmp_path / "snap")
    spark.range(0, 60).select(
        F.col("id"), (F.col("id") % 3).alias("x")
    ).repartition(2).write.parquet(path)
    stats = build_file_stats(spark, path, ["x"])  # no .cache()
    spark.range(60, 90).select(
        F.col("id"), (F.col("id") % 3).alias("x")
    ).coalesce(1).write.mode("append").parquet(path)
    with pytest.raises(ValueError, match="STALE"):
        read_pruned(spark, path, stats, "x", lo=0, hi=1).count()


def test_read_pruned_keeps_partition_columns(spark, tmp_path):
    """Hive-partitioned dataset: the pruned read passes basePath so
    partition columns survive, matching the unpruned schema — and the
    range column may itself be the partition column (review finding:
    spark.read.parquet(*files) silently dropped them)."""
    from big_data_hadoop_spark.sources.layout import (
        build_file_stats,
        read_pruned,
    )

    path = str(tmp_path / "hive")
    spark.range(0, 90).select(
        F.col("id"),
        (F.col("id") % 9).alias("x"),
        (F.col("id") % 3).cast("string").alias("day"),
    ).repartition(3).write.partitionBy("day").parquet(path)
    stats = build_file_stats(spark, path, ["x"])
    out = read_pruned(spark, path, stats, "x", lo=2, hi=4)
    assert set(out.columns) == {"id", "x", "day"}
    got = sorted((r.id, r.day) for r in out.collect())
    want = sorted(
        (r.id, r.day)
        for r in spark.read.parquet(path)
        .filter(F.col("x").between(2, 4))
        .collect()
    )
    assert got == want and got
    # range column == partition column: zones come from directory
    # values, the row filter resolves against basePath-derived cols
    pstats = build_file_stats(spark, path, ["day"])
    pd_out = read_pruned(spark, path, pstats, "day", lo="2", hi="2")
    assert sorted(r.id for r in pd_out.collect()) == sorted(
        r.id
        for r in spark.read.parquet(path).filter(F.col("day") == "2").collect()
    )


def test_refresh_file_stats_incremental_matches_full_rebuild(
    spark, tmp_path
):
    """After a partition rewrite + an append, the incremental refresh
    must equal a fresh full build (unchanged rows kept verbatim, only
    changed files re-scanned) and satisfy strict read_pruned."""
    from big_data_hadoop_spark.sources.layout import (
        build_file_stats,
        read_pruned,
        refresh_file_stats,
    )

    path = str(tmp_path / "rf")
    spark.range(0, 80).select(
        F.col("id"), (F.col("id") % 8).alias("x")
    ).repartition(4).write.parquet(path)
    stats0 = build_file_stats(spark, path, ["x"])
    # change the dataset: drop one file, append another
    files = sorted(
        f
        for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith("_")
    )
    os.remove(os.path.join(path, files[0]))
    spark.range(80, 120).select(
        F.col("id"), (F.col("id") % 8 + 100).alias("x")
    ).coalesce(1).write.mode("append").parquet(path)

    refreshed = refresh_file_stats(spark, path, stats0)
    full = build_file_stats(spark, path, ["x"])
    key = lambda r: r["file"]  # noqa: E731
    got = sorted((r.asDict() for r in refreshed.collect()), key=key)
    want = sorted((r.asDict() for r in full.collect()), key=key)
    assert got == want
    # kept rows were NOT re-scanned: same object-level values as stats0
    by_file0 = {r.file: r.asDict() for r in stats0.collect()}
    for r in got:
        if r["file"] in by_file0 and r["mtime"] == by_file0[r["file"]]["mtime"]:
            assert r == by_file0[r["file"]]
    # strict pruning works against the refreshed index
    out = sorted(
        r.id
        for r in read_pruned(
            spark, path, refreshed, "x", lo=100, hi=110
        ).collect()
    )
    want_rows = sorted(
        r.id
        for r in spark.read.parquet(path)
        .filter(F.col("x").between(100, 110))
        .collect()
    )
    assert out == want_rows and out


def test_refresh_file_stats_noop_when_unchanged(spark, tmp_path):
    from big_data_hadoop_spark.sources.layout import (
        build_file_stats,
        refresh_file_stats,
    )

    path = str(tmp_path / "rfn")
    spark.range(0, 30).select(
        F.col("id"), (F.col("id") % 3).alias("x")
    ).repartition(2).write.parquet(path)
    stats0 = build_file_stats(spark, path, ["x"])
    refreshed = refresh_file_stats(spark, path, stats0)
    key = lambda r: r["file"]  # noqa: E731
    assert sorted((r.asDict() for r in refreshed.collect()), key=key) == sorted(
        (r.asDict() for r in stats0.collect()), key=key
    )


def test_refresh_file_stats_rejects_non_index(spark, tmp_path):
    from big_data_hadoop_spark.sources.layout import refresh_file_stats

    with pytest.raises(ValueError, match="_min"):
        refresh_file_stats(
            spark, str(tmp_path), spark.range(3).toDF("file")
        )


def test_refresh_file_stats_detects_midrefresh_change(
    spark, tmp_path, monkeypatch
):
    """A file landing while the refresh runs (after the pre-scan
    listing, before the return) must abort loudly — the refresh's scan
    covers only the pre-listed changed files, so the arrival would
    otherwise be silently absent from the returned index."""
    from big_data_hadoop_spark.sources import layout

    path = str(tmp_path / "mid")
    spark.range(0, 40).select(
        F.col("id"), (F.col("id") % 4).alias("x")
    ).repartition(2).write.parquet(path)
    stats0 = layout.build_file_stats(spark, path, ["x"])
    # make one legit change so the refresh takes its scan path
    spark.range(40, 50).select(
        F.col("id"), (F.col("id") % 4).alias("x")
    ).coalesce(1).write.mode("append").parquet(path)

    real = layout._snapshot_listing
    calls = {"n": 0}

    def racing(spark_, p, glob):
        calls["n"] += 1
        if calls["n"] == 2:  # the post-refresh recheck: land a file now
            spark.range(50, 55).select(
                F.col("id"), (F.col("id") % 4).alias("x")
            ).coalesce(1).write.mode("append").parquet(path)
        return real(spark_, p, glob)

    monkeypatch.setattr(layout, "_snapshot_listing", racing)
    with pytest.raises(ValueError, match="mid-refresh"):
        layout.refresh_file_stats(spark, path, stats0)
    assert calls["n"] == 2


def test_maintained_index_through_upsert_and_compact(spark, tmp_path):
    """End-to-end maintained-index story: bootstrap once, then the
    mutable-table verbs keep the persisted index in step under their
    writer claim — strict read_pruned_indexed stays valid across an
    upsert and a compaction with no manual rebuild."""
    from big_data_hadoop_spark.sources.io import (
        compact_parquet,
        upsert_parquet,
    )
    from big_data_hadoop_spark.sources.layout import (
        maintain_file_stats,
        read_pruned_indexed,
    )

    path = str(tmp_path / "ds")
    idx = str(tmp_path / "idx")
    spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") % 10).alias("x")
    ).repartition(4).write.parquet(path)
    maintain_file_stats(spark, path, idx, cols=["x"])

    def check():
        got = sorted(
            r.k
            for r in read_pruned_indexed(
                spark, path, idx, "x", lo=3, hi=5
            ).collect()
        )
        want = sorted(
            r.k
            for r in spark.read.parquet(path)
            .filter(F.col("x").between(3, 5))
            .collect()
        )
        assert got == want and got

    check()
    upsert_parquet(
        spark,
        path,
        spark.createDataFrame([(5, 200), (100, 4)], "k long, x long"),
        ["k"],
        stats_path=idx,
    )
    check()
    compact_parquet(spark, path, stats_path=idx)
    check()
    # a mutation that BYPASSES the hook leaves the index behind —
    # strict mode must refuse rather than silently drop the new rows
    spark.range(200, 210).select(
        F.col("id").alias("k"), (F.col("id") % 10).alias("x")
    ).coalesce(1).write.mode("append").parquet(path)
    with pytest.raises(ValueError, match="STALE"):
        read_pruned_indexed(spark, path, idx, "x", lo=3, hi=5).count()
    # one maintain call repairs it
    maintain_file_stats(spark, path, idx)
    check()


def test_maintain_file_stats_requires_bootstrap(spark, tmp_path):
    from big_data_hadoop_spark.sources.layout import maintain_file_stats

    path = str(tmp_path / "nb")
    spark.range(5).write.parquet(path)
    with pytest.raises(ValueError, match="bootstrap"):
        maintain_file_stats(spark, path, str(tmp_path / "nb_idx"))


def test_maintain_file_stats_cols_mismatch_raises(spark, tmp_path):
    from big_data_hadoop_spark.sources.layout import maintain_file_stats

    path = str(tmp_path / "cm")
    idx = str(tmp_path / "cm_idx")
    spark.range(0, 20).select(
        F.col("id"), (F.col("id") % 2).alias("x"), (F.col("id") % 3).alias("y")
    ).write.parquet(path)
    maintain_file_stats(spark, path, idx, cols=["x"])
    with pytest.raises(ValueError, match="rebuild"):
        maintain_file_stats(spark, path, idx, cols=["x", "y"])
    # same cols re-stated is fine (idempotent no-op on a quiet table)
    maintain_file_stats(spark, path, idx, cols=["x"])


def test_maintain_file_stats_noop_skips_rewrite(spark, tmp_path):
    """On a quiet table the scheduled maintain must not rewrite/swap a
    byte-equivalent index generation (mtimes stay put)."""
    import os as _os

    from big_data_hadoop_spark.sources.layout import maintain_file_stats

    path = str(tmp_path / "np")
    idx = str(tmp_path / "np_idx")
    spark.range(0, 20).select(
        F.col("id"), (F.col("id") % 2).alias("x")
    ).write.parquet(path)
    maintain_file_stats(spark, path, idx, cols=["x"])

    def idx_state():
        return sorted(
            (f, _os.path.getmtime(_os.path.join(idx, f)))
            for f in _os.listdir(idx)
        )

    before = idx_state()
    maintain_file_stats(spark, path, idx)
    assert idx_state() == before


def test_read_pruned_indexed_recovers_stranded_old(spark, tmp_path):
    """A maintainer killed between the swap's two renames leaves only
    index.old — the reader FALLS BACK to reading that generation
    WITHOUT renaming (a reader-side rename would race a live writer's
    swap and crash its publish — review finding); the next maintainer
    performs the actual restore."""
    import os as _os

    from big_data_hadoop_spark.sources.layout import (
        maintain_file_stats,
        read_pruned_indexed,
    )

    path = str(tmp_path / "ro")
    idx = str(tmp_path / "ro_idx")
    spark.range(0, 30).select(
        F.col("id"), (F.col("id") % 3).alias("x")
    ).write.parquet(path)
    maintain_file_stats(spark, path, idx, cols=["x"])
    _os.rename(idx, idx + ".old")  # simulate the crash window
    out = read_pruned_indexed(spark, path, idx, "x", lo=1, hi=1)
    assert out.count() == 10
    # read-only: the stranded generation stays put for the maintainer
    assert _os.path.exists(idx + ".old") and not _os.path.exists(idx)
    maintain_file_stats(spark, path, idx)  # restores, then no-ops
    assert _os.path.exists(idx) and not _os.path.exists(idx + ".old")
    assert read_pruned_indexed(spark, path, idx, "x", lo=1, hi=1).count() == 10


def test_compact_preserves_sorted_layout(spark, tmp_path):
    """Compacting a fragmented range-sorted dataset with sort_cols
    keeps the clustering: per-file min/max key ranges stay DISJOINT
    after the rewrite (the naive hash repartition scatters them)."""
    from big_data_hadoop_spark.sources.io import compact_parquet
    from big_data_hadoop_spark.sources.layout import build_file_stats

    path = str(tmp_path / "cs")
    # fragmented but sorted-ish source: 12 files
    spark.range(0, 120_000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    ).repartitionByRange(12, "k").sortWithinPartitions("k").write.parquet(
        path
    )
    before = spark.read.parquet(path).count()
    b, a = compact_parquet(
        spark, path, target_file_bytes=256 * 1024, sort_cols=["k"]
    )
    assert b == 12 and 1 < a < b, (b, a)
    assert spark.read.parquet(path).count() == before
    stats = build_file_stats(spark, path, ["k"]).collect()
    spans = sorted((r.k_min, r.k_max) for r in stats)
    assert len(spans) == a > 1  # the disjointness loop must actually run
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 < lo2, f"overlapping file ranges: {spans}"


def test_compact_zorder_recluster(spark, tmp_path):
    """zorder_cols re-clusters during compaction: the zone map prunes
    on BOTH dimensions afterwards, and rows are unchanged."""
    from big_data_hadoop_spark.sources.io import compact_parquet
    from big_data_hadoop_spark.sources.layout import build_file_stats

    path = str(tmp_path / "cz")
    spark.range(0, 200_000).select(
        F.col("id"),
        F.pmod(F.xxhash64("id"), F.lit(1000)).alias("x"),
        F.pmod(F.xxhash64("id", F.lit(1)), F.lit(1000)).alias("y"),
    ).repartition(16).write.parquet(path)  # scattered layout
    before = sorted(r.id for r in spark.read.parquet(path).collect())
    b, a = compact_parquet(
        spark,
        path,
        target_file_bytes=192 * 1024,
        zorder_cols=["x", "y"],
    )
    assert a >= 8, (b, a)
    assert sorted(r.id for r in spark.read.parquet(path).collect()) == before
    stats = build_file_stats(spark, path, ["x", "y"])
    n_files = stats.count()
    for c in ("x", "y"):
        matching = stats.filter(
            (F.col(f"{c}_max") >= 100) & (F.col(f"{c}_min") <= 200)
        ).count()
        assert matching < n_files, f"no pruning on {c} after recluster"


def test_compact_rejects_both_clusterings(spark, tmp_path):
    from big_data_hadoop_spark.sources.io import compact_parquet

    with pytest.raises(ValueError, match="mutually exclusive"):
        compact_parquet(
            spark,
            str(tmp_path / "nope"),
            sort_cols=["a"],
            zorder_cols=["b"],
        )


def test_zorder_cluster_refuses_internal_name_collision(spark):
    from big_data_hadoop_spark.sources.layout import zorder_cluster

    df = spark.range(10).selectExpr("id as x", "id as _z")
    with pytest.raises(ValueError, match="_z"):
        zorder_cluster(df, ["x"])


# ---------------------------------------------------------------------------
# Bloom sidecar: per-file equality pruning on unclustered columns
# ---------------------------------------------------------------------------


def _write_date_clustered_orders(spark, path):
    """Orders clustered by date — o_orderkey is UNSORTED across files,
    so its per-file min/max zones all span the full key range and a
    zone-only point lookup prunes (almost) nothing."""
    orders = load_table(spark, SF, "orders")
    (
        orders.repartitionByRange(8, "o_orderdate")
        .sortWithinPartitions("o_orderdate")
        .write.parquet(path)
    )
    return orders


def test_bloom_point_lookup_prunes_unclustered_column(spark, tmp_path):
    from big_data_hadoop_spark.sources.layout import (
        build_file_stats,
        read_pruned,
    )

    path = str(tmp_path / "ds")
    orders = _write_date_clustered_orders(spark, path)
    stats = build_file_stats(
        spark,
        path,
        ["o_orderdate", "o_orderkey"],
        bloom_cols=["o_orderkey"],
    )
    n_files = stats.count()
    assert n_files == 8
    # zones alone cannot prune this column: nearly every file's
    # [min, max] contains a mid-range key
    keys = [
        r.o_orderkey
        for r in orders.select("o_orderkey").distinct().limit(6).collect()
    ]
    touched = []
    for k in keys:
        got = read_pruned(spark, path, stats, "o_orderkey", eq=k)
        want = sorted(
            map(str, orders.filter(F.col("o_orderkey") == k).collect())
        )
        assert sorted(map(str, got.collect())) == want and want
        touched.append(len(got.inputFiles()))
    # the bloom is what collapses the lookup — on 8 files with ~1900
    # distinct keys each, the 32768x6 default's false-positive rate is
    # ~0.07% per file (8192x6 would give ~18%), so the expected count
    # is far below 1 per probe; allow 3 to keep the test hash-stable
    assert max(touched) <= 3, touched
    # absent key: no file survives, schema is preserved
    got = read_pruned(spark, path, stats, "o_orderkey", eq=-12345)
    assert got.count() == 0
    assert got.columns == orders.columns
    assert len(got.inputFiles()) == 0


def test_bloom_positions_match_python_replication(spark):
    """The build and the probe share _bloom_positions, so a bug there
    would be self-consistent — pin the arithmetic against a
    pure-Python replication fed only the raw xxhash64 values."""
    from big_data_hadoop_spark.sources.layout import _bloom_positions

    bits, k = 4096, 5
    vals = spark.range(0, 50).select(
        F.col("id").alias("v"),
        F.xxhash64("id").alias("h1"),
        F.xxhash64("id", F.lit(1)).alias("h2"),
        _bloom_positions("id", bits, k).alias("pos"),
    )
    for r in vals.collect():
        h1 = r.h1 % bits  # Python % matches pmod on negatives
        h2 = (r.h2 % bits) | 1
        want = [(h1 + i * h2) % bits for i in range(k)]
        assert list(r.pos) == want, (r.v, list(r.pos), want)


def test_bloom_null_values_excluded(spark, tmp_path):
    """NULLs contribute no bloom entries: a file whose indexed column
    is entirely NULL reads as definitely-absent for every probe, and
    mixed files still answer equality correctly."""
    from big_data_hadoop_spark.sources.layout import (
        build_file_stats,
        read_pruned,
    )

    path = str(tmp_path / "nulls")
    spark.createDataFrame(
        [(1, 10), (2, None), (3, 30)], "id long, v long"
    ).coalesce(1).write.parquet(path)
    spark.createDataFrame(
        [(4, None), (5, None)], "id long, v long"
    ).coalesce(1).write.mode("append").parquet(path)
    stats = build_file_stats(spark, path, ["v"], bloom_cols=["v"])
    got = read_pruned(spark, path, stats, "v", eq=10)
    assert [r.id for r in got.collect()] == [1]
    assert len(got.inputFiles()) == 1
    # the all-NULL file has a NULL zone AND a NULL/zero bloom — a probe
    # for any value must not touch it
    got = read_pruned(spark, path, stats, "v", eq=999)
    assert got.count() == 0 and len(got.inputFiles()) == 0


def test_bloom_refresh_matches_full_rebuild(spark, tmp_path):
    from big_data_hadoop_spark.sources.layout import (
        build_file_stats,
        read_pruned,
        refresh_file_stats,
    )

    path = str(tmp_path / "ds")
    orders = _write_date_clustered_orders(spark, path)
    stats = build_file_stats(
        spark,
        path,
        ["o_orderdate", "o_orderkey"],
        bloom_cols=["o_orderkey"],
    )
    orders.limit(50).coalesce(1).write.mode("append").parquet(path)
    refreshed = refresh_file_stats(spark, path, stats)
    rebuilt = build_file_stats(
        spark,
        path,
        ["o_orderdate", "o_orderkey"],
        bloom_cols=["o_orderkey"],
    )
    assert sorted(map(str, refreshed.collect())) == sorted(
        map(str, rebuilt.collect())
    )
    # and the refreshed index answers point lookups for NEW files' keys
    # (the appended rows duplicate source keys — count the DATASET)
    k = orders.limit(1).collect()[0].o_orderkey
    got = read_pruned(spark, path, refreshed, "o_orderkey", eq=k)
    want = (
        spark.read.parquet(path).filter(F.col("o_orderkey") == k).count()
    )
    assert got.count() == want and want >= 2


def test_bloom_validation(spark, tmp_path):
    from big_data_hadoop_spark.sources.layout import (
        build_file_stats,
        read_pruned,
    )

    path = str(tmp_path / "v")
    spark.range(10).selectExpr("id as a", "id as b").write.parquet(path)
    with pytest.raises(ValueError, match="power of two"):
        build_file_stats(spark, path, ["a"], bloom_cols=["a"], bloom_bits=100)
    with pytest.raises(ValueError, match="must also be in cols"):
        build_file_stats(spark, path, ["a"], bloom_cols=["b"])
    stats = build_file_stats(spark, path, ["a"], bloom_cols=["a"])
    with pytest.raises(ValueError, match="mutually exclusive"):
        read_pruned(spark, path, stats, "a", lo=1, eq=2)
    with pytest.raises(ValueError, match="one of eq, lo, hi"):
        read_pruned(spark, path, stats, "a")
    with pytest.raises(ValueError, match="not in the stats index"):
        read_pruned(spark, path, stats, "b", eq=1)


def test_maintained_bloom_index_through_upsert(spark, tmp_path):
    """Bootstrap a bloom-carrying persisted index, mutate through the
    verbs, and keep answering strict point lookups — plus the loud
    refusal when a maintainer asks for different bloom parameters."""
    from big_data_hadoop_spark.sources.io import upsert_parquet
    from big_data_hadoop_spark.sources.layout import (
        maintain_file_stats,
        read_pruned_indexed,
    )

    path = str(tmp_path / "ds")
    idx = str(tmp_path / "idx")
    spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 7 % 1000).alias("x")
    ).repartition(4).write.parquet(path)
    maintain_file_stats(spark, path, idx, cols=["k", "x"], bloom_cols=["x"])

    def check(v):
        got = read_pruned_indexed(spark, path, idx, "x", eq=v)
        want = (
            spark.read.parquet(path).filter(F.col("x") == v).count()
        )
        assert got.count() == want

    check(7)
    upsert_parquet(
        spark,
        path,
        spark.createDataFrame([(1, 4242), (2000, 7)], "k long, x long"),
        ["k"],
        stats_path=idx,
    )
    check(4242)
    check(7)
    with pytest.raises(ValueError, match="bloom"):
        maintain_file_stats(
            spark, path, idx, bloom_cols=["x"], bloom_bits=4096
        )
    with pytest.raises(ValueError, match="bloom"):
        maintain_file_stats(spark, path, idx, bloom_cols=[])


def test_bloom_eq_probe_must_roundtrip_type(spark, tmp_path):
    """eq=10.5 on a long column must return NOTHING — the old
    truncating cast answered an equality query for value 10 (review
    finding). A promotable-but-equal probe (10.0, '7') still works."""
    from big_data_hadoop_spark.sources.layout import (
        build_file_stats,
        read_pruned,
    )

    path = str(tmp_path / "rt")
    spark.range(0, 100).selectExpr("id as x").coalesce(2).write.parquet(path)
    stats = build_file_stats(spark, path, ["x"], bloom_cols=["x"])
    got = read_pruned(spark, path, stats, "x", eq=10.5)
    assert got.count() == 0 and len(got.inputFiles()) == 0
    assert got.columns == ["x"]
    assert read_pruned(spark, path, stats, "x", eq=10.0).count() == 1
    assert read_pruned(spark, path, stats, "x", eq="7").count() == 1


def test_bloom_membership_tested_jvm_side(spark, tmp_path):
    """The point lookup collects only surviving FILE NAMES — the
    bitsets stay executor-side (review finding: 1 KiB per file per
    probe is a ~1 GiB driver pull at 10^6 files)."""
    from big_data_hadoop_spark.sources.layout import (
        _bloom_membership_cond,
        _bloom_name,
        _bloom_positions,
        build_file_stats,
    )

    path = str(tmp_path / "mem")
    spark.range(0, 1000).selectExpr("id as x").repartition(4).write.parquet(
        path
    )
    stats = build_file_stats(
        spark, path, ["x"], bloom_cols=["x"], bloom_bits=8192
    )
    name = _bloom_name("x", 8192, 6)
    # every stored value passes its own file's bitset (no false
    # negatives) via the JVM-side condition, including word-63 masks
    for v in (0, 63, 511, 999):
        positions = (
            spark.range(1)
            .select(_bloom_positions(f"CAST({v} AS BIGINT)", 8192, 6).alias("p"))
            .head()["p"]
        )
        n = stats.filter(_bloom_membership_cond(name, positions)).count()
        assert 1 <= n <= 4, (v, n)


def test_bloom_cols_duplicates_refused(spark, tmp_path):
    from big_data_hadoop_spark.sources.layout import build_file_stats

    path = str(tmp_path / "dup")
    spark.range(5).selectExpr("id as a").write.parquet(path)
    with pytest.raises(ValueError, match="duplicates"):
        build_file_stats(spark, path, ["a"], bloom_cols=["a", "a"])


def test_bloom_density_diagnostic(spark, tmp_path):
    """The density column exposes saturation: an 8192-bit filter fed
    ~8k distinct values saturates (density near 1, prunes nothing);
    sized at n*k/m ~= ln 2 it sits near 0.5 and prunes."""
    from big_data_hadoop_spark.sources.layout import build_file_stats

    path = str(tmp_path / "d")
    spark.range(8000).selectExpr("id as x").coalesce(1).write.parquet(path)
    sat = build_file_stats(
        spark, path, ["x"], bloom_cols=["x"], bloom_bits=8192
    ).collect()[0]
    ok = build_file_stats(
        spark, path, ["x"], bloom_cols=["x"], bloom_bits=65536
    ).collect()[0]
    assert sat["x_bloom_8192x6_density"] > 0.95
    assert 0.3 < ok["x_bloom_65536x6_density"] < 0.65


def test_read_pruned_where_conjunction(spark, tmp_path):
    """Multi-column pruning: date range AND key equality — neither
    predicate alone is this selective; the conjunction is evaluated in
    ONE pass over the index and the row filter re-applies both."""
    from big_data_hadoop_spark.sources.layout import (
        build_file_stats,
        read_pruned,
        read_pruned_where,
    )

    path = str(tmp_path / "w")
    orders = _write_date_clustered_orders(spark, path)
    stats = build_file_stats(
        spark,
        path,
        ["o_orderdate", "o_orderkey"],
        bloom_cols=["o_orderkey"],
    )
    r = orders.select("o_orderkey", "o_orderdate").limit(1).collect()[0]
    got = read_pruned_where(
        spark,
        path,
        stats,
        {
            "o_orderkey": {"eq": r.o_orderkey},
            "o_orderdate": {"lo": r.o_orderdate, "hi": r.o_orderdate},
        },
    )
    want = orders.filter(
        (F.col("o_orderkey") == r.o_orderkey)
        & (F.col("o_orderdate") == r.o_orderdate)
    )
    assert sorted(map(str, got.collect())) == sorted(map(str, want.collect()))
    assert got.count() == 1
    # conjunction can only touch <= what either single predicate does
    only_key = read_pruned(spark, path, stats, "o_orderkey", eq=r.o_orderkey)
    assert len(got.inputFiles()) <= len(only_key.inputFiles())
    # a contradictory conjunction (key exists, date range empty for it)
    other = orders.filter(F.col("o_orderdate") != r.o_orderdate).limit(1).collect()[0]
    none = read_pruned_where(
        spark,
        path,
        stats,
        {
            "o_orderkey": {"eq": r.o_orderkey},
            "o_orderdate": {"lo": other.o_orderdate, "hi": other.o_orderdate},
        },
    )
    assert none.count() == 0
    with pytest.raises(ValueError, match="eq/lo/hi"):
        read_pruned_where(spark, path, stats, {"o_orderkey": {"between": 1}})
    with pytest.raises(ValueError, match="non-empty"):
        read_pruned_where(spark, path, stats, {})


def test_file_stats_ndv_and_sizing(spark, tmp_path):
    """Per-file approx NDV lands in the index and feeds
    suggest_bloom_bits; a legacy NDV-free index refreshes without
    growing the column (schema-driven, like the bloom specs)."""
    from big_data_hadoop_spark.sources.layout import (
        build_file_stats,
        refresh_file_stats,
        suggest_bloom_bits,
    )

    path = str(tmp_path / "n")
    spark.range(8000).selectExpr("id as x").coalesce(2).write.parquet(path)
    stats = build_file_stats(spark, path, ["x"])
    for r in stats.collect():
        assert abs(r.x_ndv - r.n_rows) / r.n_rows < 0.10  # HLL++ ~2%
    bits, k = suggest_bloom_bits(int(stats.agg(F.max("x_ndv")).first()[0]))
    assert bits == 65536 and 4 <= k <= 16
    assert suggest_bloom_bits(1000) == (16384, 11)
    with pytest.raises(ValueError):
        suggest_bloom_bits(0)
    with pytest.raises(ValueError):
        suggest_bloom_bits(100, fpp=1.5)
    # legacy index: drop the ndv column, refresh after an append
    legacy = stats.drop("x_ndv")
    spark.range(8000, 8100).selectExpr("id as x").coalesce(1).write.mode(
        "append"
    ).parquet(path)
    refreshed = refresh_file_stats(spark, path, legacy)
    assert "x_ndv" not in refreshed.columns
    assert refreshed.count() == 3


def test_read_pruned_indexed_preds_route(spark, tmp_path):
    from big_data_hadoop_spark.sources.io import upsert_parquet  # noqa: F401
    from big_data_hadoop_spark.sources.layout import (
        maintain_file_stats,
        read_pruned_indexed,
    )

    path = str(tmp_path / "ds")
    idx = str(tmp_path / "idx")
    spark.range(0, 400).selectExpr(
        "id as k", "id % 20 as x"
    ).repartition(4).write.parquet(path)
    maintain_file_stats(spark, path, idx, cols=["k", "x"], bloom_cols=["k"])
    got = read_pruned_indexed(
        spark, path, idx, preds={"k": {"eq": 37}, "x": {"lo": 10}}
    )
    assert [(r.k, r.x) for r in got.collect()] == [(37, 17)]
    with pytest.raises(ValueError, match="mutually exclusive"):
        read_pruned_indexed(spark, path, idx, col="k", eq=1, preds={"k": {"eq": 1}})
    with pytest.raises(ValueError, match="either col or preds"):
        read_pruned_indexed(spark, path, idx)
