"""Persisted near-dup graph store (``operators.neardup_graph``): the
replant invariant (build → refresh × k → load equals a one-shot build
over the concatenated corpus, edge-for-edge including the estimate
values), graph consumers running row-identically off the loaded table,
duplicate-id / missing-store refusals, empty batches, crashed-refresh
orphan slots, and reader isolation from uncommitted directories."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from big_data_hadoop_spark.operators.neardup_graph import (
    neardup_graph_build,
    neardup_graph_load,
    neardup_graph_refresh,
    neardup_graph_signatures,
)

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )


def _edge_set(df):
    return {
        (r.id_a, r.id_b, round(r.jac_est, 12)) for r in df.collect()
    }


@pytest.fixture()
def store(spark, tmp_path):
    """A three-batch store over the sf0.001 documents corpus, split by
    doc_id mod 3 (threshold 0.7 so cross-batch edges exist — verified
    below), plus the one-shot control store over the full corpus."""
    docs = _docs(spark)
    grown = str(tmp_path / "grown")
    stats = [
        neardup_graph_build(
            spark, docs.filter(F.col("doc_id") % 3 == 0), grown,
            threshold=0.7,
        )
    ]
    for m in (1, 2):
        stats.append(
            neardup_graph_refresh(
                spark, docs.filter(F.col("doc_id") % 3 == m), grown
            )
        )
    oneshot = str(tmp_path / "oneshot")
    neardup_graph_build(spark, docs, oneshot, threshold=0.7)
    return grown, oneshot, stats


def test_replant_invariant_refresh_equals_rebuild(spark, store):
    """THE storage contract: a store grown batch-by-batch holds exactly
    the edges a one-shot build over the whole corpus produces — same
    pairs, same jac_est values — and the cross-batch edges (the part
    only the history join can find) are actually present."""
    grown, oneshot, stats = store
    g = _edge_set(neardup_graph_load(spark, grown))
    o = _edge_set(neardup_graph_load(spark, oneshot))
    assert g == o and len(g) > 0
    cross = {
        (a, b) for a, b, _ in g if a % 3 != b % 3
    }
    assert cross, "corpus split produced no cross-batch edges — weak test"
    # stats bookkeeping: batches numbered 0..2, docs partition the corpus
    assert [s["batch"] for s in stats] == [0, 1, 2]
    assert sum(s["docs"] for s in stats) == _docs(spark).count()
    assert sum(s["new_edges"] for s in stats) == len(g)


def test_graph_consumers_run_off_loaded_table(spark, store):
    """pagerank / label_propagation / duplicate_clusters consume the
    loaded frame directly and return the same rows as over the
    one-shot control — the 'switch your analysis to the table' story."""
    from big_data_hadoop_spark.operators.dedup import duplicate_clusters
    from big_data_hadoop_spark.operators.graph import (
        label_propagation,
        pagerank,
    )

    grown, oneshot, _ = store
    ge, oe = neardup_graph_load(spark, grown), neardup_graph_load(
        spark, oneshot
    )
    pr_g = {(r.id, round(r.rank, 12)) for r in pagerank(ge, weight_col="jac_est").collect()}
    pr_o = {(r.id, round(r.rank, 12)) for r in pagerank(oe, weight_col="jac_est").collect()}
    assert pr_g == pr_o and pr_g
    lp_g = {(r.id, r.community) for r in label_propagation(ge, weight_col="jac_est").collect()}
    lp_o = {(r.id, r.community) for r in label_propagation(oe, weight_col="jac_est").collect()}
    assert lp_g == lp_o and lp_g
    cl_g = {(r.member_id, r.cluster_id) for r in duplicate_clusters(ge).collect()}
    assert cl_g == {
        (r.member_id, r.cluster_id) for r in duplicate_clusters(oe).collect()
    }


def test_signature_history_feeds_incremental_dedup(spark, store):
    """The stored signatures are the prior_sigs contract of
    minhash_matches_against: a re-presented known document matches
    itself at jac_est 1.0 — one maintained table serves both the graph
    and incremental dedup."""
    from big_data_hadoop_spark.operators.dedup import (
        minhash_matches_against,
        minhash_signatures,
    )

    grown, _, _ = store
    prior = neardup_graph_signatures(spark, grown)
    assert prior.count() == _docs(spark).count() - _shingleless(spark)
    probe = minhash_signatures(_docs(spark).limit(5))
    hits = minhash_matches_against(probe, prior, threshold=0.99)
    assert hits.filter(
        (F.col("doc_id") == F.col("prior_id")) & (F.col("jac_est") == 1.0)
    ).count() == 5


def _shingleless(spark) -> int:
    # docs too short to shingle produce no signature (and no vertex)
    from big_data_hadoop_spark.operators.dedup import minhash_signatures

    return _docs(spark).count() - minhash_signatures(_docs(spark)).count()


def test_refusals_and_empty_batch(spark, tmp_path):
    docs = _docs(spark).limit(20)
    path = str(tmp_path / "g")
    with pytest.raises(FileNotFoundError, match="neardup_graph_build"):
        neardup_graph_load(spark, path)
    with pytest.raises(FileNotFoundError, match="neardup_graph_build"):
        neardup_graph_refresh(spark, docs, path)
    neardup_graph_build(spark, docs, path)
    with pytest.raises(ValueError, match="already exists"):
        neardup_graph_build(spark, docs, path)
    # duplicate ids refuse loudly
    with pytest.raises(ValueError, match="already stored"):
        neardup_graph_refresh(spark, docs, path)
    # an empty batch (schema-only) commits nothing
    empty = docs.filter(F.lit(False))
    st = neardup_graph_refresh(spark, empty, path)
    assert st == {"batch": None, "docs": 0, "new_edges": 0}
    with open(os.path.join(path, "meta.json")) as fh:
        assert json.load(fh)["batches"] == [0]


def test_crashed_refresh_orphan_is_overwritten(spark, tmp_path):
    """A refresh killed after writing its directories but before the
    meta commit leaves orphans in the next batch slot: they are
    invisible to readers and the retry overwrites them cleanly."""
    docs = _docs(spark)
    path = str(tmp_path / "g")
    neardup_graph_build(
        spark, docs.filter(F.col("doc_id") % 2 == 0), path, threshold=0.7
    )
    before = _edge_set(neardup_graph_load(spark, path))
    # simulate the crash: garbage parquet-less orphans in slot b00001
    for kind in ("sig", "edge"):
        orphan = os.path.join(path, kind, "b00001")
        os.makedirs(orphan)
        with open(os.path.join(orphan, "junk"), "w") as fh:
            fh.write("not parquet")
    # readers never see the orphan
    assert _edge_set(neardup_graph_load(spark, path)) == before
    # the retry reuses the slot and commits
    st = neardup_graph_refresh(
        spark, docs.filter(F.col("doc_id") % 2 == 1), path
    )
    assert st["batch"] == 1 and st["docs"] > 0
    grown = _edge_set(neardup_graph_load(spark, path))
    assert grown >= before and len(grown) > len(before)


def test_params_come_from_meta_not_defaults(spark, tmp_path):
    """A store built at threshold 0.7 keeps scoring refreshes at 0.7:
    the grown store must match a 0.7 one-shot, not the 0.9 default
    (a silent default would redefine 'duplicate' mid-history)."""
    docs = _docs(spark)
    path = str(tmp_path / "g07")
    neardup_graph_build(
        spark, docs.filter(F.col("doc_id") < 250), path, threshold=0.7
    )
    neardup_graph_refresh(spark, docs.filter(F.col("doc_id") >= 250), path)
    ctl07 = str(tmp_path / "ctl07")
    neardup_graph_build(spark, docs, ctl07, threshold=0.7)
    ctl09 = str(tmp_path / "ctl09")
    neardup_graph_build(spark, docs, ctl09, threshold=0.9)
    grown = _edge_set(neardup_graph_load(spark, path))
    assert grown == _edge_set(neardup_graph_load(spark, ctl07))
    assert grown != _edge_set(neardup_graph_load(spark, ctl09))


def test_compact_folds_batches_and_vacuum_sweeps(spark, tmp_path):
    """Compaction folds every committed batch into one slot with
    edges and signatures identical to the grown store; the old
    directories become orphans that vacuum removes after the grace
    window (and protects within it); a post-compact refresh keeps
    appending correctly."""
    from big_data_hadoop_spark.operators.neardup_graph import (
        neardup_graph_compact,
        neardup_graph_vacuum,
    )

    docs = _docs(spark)
    path = str(tmp_path / "g")
    neardup_graph_build(
        spark, docs.filter(F.col("doc_id") % 3 == 0), path, threshold=0.7
    )
    neardup_graph_refresh(spark, docs.filter(F.col("doc_id") % 3 == 1), path)
    before_edges = _edge_set(neardup_graph_load(spark, path))
    before_sigs = neardup_graph_signatures(spark, path).count()

    st = neardup_graph_compact(spark, path)
    assert st["batches_before"] == 2
    with open(os.path.join(path, "meta.json")) as fh:
        assert json.load(fh)["batches"] == [2]
    assert _edge_set(neardup_graph_load(spark, path)) == before_edges
    assert neardup_graph_signatures(spark, path).count() == before_sigs

    # inside the grace window the orphaned slots survive
    vac = neardup_graph_vacuum(path, grace_seconds=3600)
    assert vac == {"removed": 0, "kept": 4}
    assert os.path.isdir(os.path.join(path, "sig", "b00000"))
    # past the window they are swept; live slots stay
    vac = neardup_graph_vacuum(path, grace_seconds=0.0)
    assert vac == {"removed": 4, "kept": 0}
    assert not os.path.exists(os.path.join(path, "sig", "b00000"))
    assert os.path.isdir(os.path.join(path, "sig", "b00002"))
    assert _edge_set(neardup_graph_load(spark, path)) == before_edges

    # the store keeps growing normally after compaction: the grown
    # result still equals the one-shot rebuild
    neardup_graph_refresh(spark, docs.filter(F.col("doc_id") % 3 == 2), path)
    ctl = str(tmp_path / "ctl")
    neardup_graph_build(spark, docs, ctl, threshold=0.7)
    assert _edge_set(neardup_graph_load(spark, path)) == _edge_set(
        neardup_graph_load(spark, ctl)
    )


def test_crashed_compact_leaves_store_readable(spark, tmp_path):
    """A compact killed after writing its consolidated slot but before
    the meta commit leaves the previous generation fully committed and
    readable; the orphan slot is invisible and vacuum can sweep it."""
    from unittest import mock

    from big_data_hadoop_spark.operators import neardup_graph as ng
    from big_data_hadoop_spark.sources import batch_store

    docs = _docs(spark).limit(100)
    path = str(tmp_path / "g")
    neardup_graph_build(spark, docs, path, threshold=0.7)
    before = _edge_set(neardup_graph_load(spark, path))

    # the commit seam moved to the shared protocol module in round 9
    # (sources/batch_store.py) — kill there, the same crash point
    with mock.patch.object(
        batch_store, "write_meta", side_effect=RuntimeError("killed (test)")
    ):
        with pytest.raises(RuntimeError, match="killed"):
            ng.neardup_graph_compact(spark, path)
    # previous generation intact, orphan invisible
    with open(os.path.join(path, "meta.json")) as fh:
        assert json.load(fh)["batches"] == [0]
    assert _edge_set(neardup_graph_load(spark, path)) == before
    assert os.path.isdir(os.path.join(path, "sig", "b00001"))  # orphan
    vac = ng.neardup_graph_vacuum(path, grace_seconds=0.0)
    assert vac["removed"] == 2
    # and the retry compacts cleanly into the reused slot
    st = ng.neardup_graph_compact(spark, path)
    assert st["batches_before"] == 1
    assert _edge_set(neardup_graph_load(spark, path)) == before


def test_streaming_maintenance_matches_batch_and_replays_idempotently(
    spark, tmp_path
):
    """streaming_neardup_graph: a drained document stream grows the
    store to exactly the one-shot build over everything ingested; a
    full REPLAY (fresh checkpoint over the same files — the
    at-least-once worst case) changes nothing."""
    from big_data_hadoop_spark.streaming.pipelines import (
        streaming_neardup_graph,
    )

    docs = _docs(spark)
    src = str(tmp_path / "stream_src")
    # two files -> two-ish micro-batches under availableNow
    docs.filter(F.col("doc_id") % 2 == 0).write.parquet(
        src + "/f0"
    )
    docs.filter(F.col("doc_id") % 2 == 1).write.parquet(
        src + "/f1"
    )
    store = str(tmp_path / "store")
    # seed the store with an initial (empty-corpus is refused, so use
    # a tiny real slice outside the stream's id space? no — build over
    # the first file's worth, stream the rest) — simplest honest flow:
    # build on f0's docs, stream f1's docs in.
    neardup_graph_build(
        spark, docs.filter(F.col("doc_id") % 2 == 0), store,
        threshold=0.7,
    )
    stream = spark.readStream.schema("doc_id long, text string").parquet(
        src + "/f1"
    )
    q = streaming_neardup_graph(
        stream, store, str(tmp_path / "ckpt1")
    )
    q.awaitTermination(180)
    grown = _edge_set(neardup_graph_load(spark, store))
    ctl = str(tmp_path / "ctl")
    neardup_graph_build(spark, docs, ctl, threshold=0.7)
    assert grown == _edge_set(neardup_graph_load(spark, ctl))

    # replay everything (fresh checkpoint): every id already stored ->
    # nothing refreshes, nothing refuses, store unchanged
    replay = spark.readStream.schema(
        "doc_id long, text string"
    ).parquet(src + "/f1")
    q2 = streaming_neardup_graph(
        replay, store, str(tmp_path / "ckpt2")
    )
    q2.awaitTermination(180)
    assert _edge_set(neardup_graph_load(spark, store)) == grown
    with open(os.path.join(store, "meta.json")) as fh:
        assert json.load(fh)["batches"] == [0, 1]

    # wiring-time refusals: missing store, missing columns
    with pytest.raises(FileNotFoundError, match="neardup_graph_build"):
        streaming_neardup_graph(
            replay, str(tmp_path / "nope"), str(tmp_path / "ckpt3")
        )
    bad = spark.readStream.schema("doc_id long, body string").parquet(
        src + "/f1"
    )
    with pytest.raises(ValueError, match="lacks the store's columns"):
        streaming_neardup_graph(bad, store, str(tmp_path / "ckpt4"))


def test_null_doc_ids_refused(spark, tmp_path):
    """NULL doc ids refuse loudly in build and refresh — all NULL-id
    docs would otherwise collapse into one phantom signature whose
    edges never equi-join downstream."""
    good = _docs(spark).limit(20)
    with_null = good.unionByName(
        good.limit(1).select(
            F.lit(None).cast("long").alias("doc_id"), "text"
        )
    )
    with pytest.raises(ValueError, match="NULL doc ids"):
        neardup_graph_build(spark, with_null, str(tmp_path / "g1"))
    # a refused build leaves no directory behind
    assert not os.path.exists(tmp_path / "g1")
    path = str(tmp_path / "g2")
    neardup_graph_build(spark, good, path)
    more = _docs(spark).filter(F.col("doc_id") >= 400)
    with pytest.raises(ValueError, match="NULL doc ids"):
        neardup_graph_refresh(
            spark,
            more.unionByName(
                more.limit(1).select(
                    F.lit(None).cast("long").alias("doc_id"), "text"
                )
            ),
            path,
        )


def test_vacuum_grace_measured_from_orphaning_not_write_time(
    spark, tmp_path
):
    """Compaction stamps orphaning time onto the superseded slots: a
    slot WRITTEN long ago but orphaned a second ago must survive a
    graced vacuum (round-9 review finding — grace measured from write
    mtime gave old slots a zero-length protection window)."""
    import time

    from big_data_hadoop_spark.operators.neardup_graph import (
        neardup_graph_compact,
        neardup_graph_vacuum,
    )

    docs = _docs(spark).limit(100)
    path = str(tmp_path / "g")
    neardup_graph_build(spark, docs, path, threshold=0.7)
    # backdate the committed slot far past any grace window
    old = time.time() - 10 * 86400
    for kind in ("sig", "edge"):
        os.utime(os.path.join(path, kind, "b00000"), (old, old))
    neardup_graph_compact(spark, path)
    vac = neardup_graph_vacuum(path, grace_seconds=3600)
    assert vac == {"removed": 0, "kept": 2}
    assert os.path.isdir(os.path.join(path, "sig", "b00000"))


def test_refresh_drop_known_ingests_only_fresh_ids(spark, tmp_path):
    """drop_known=True: overlapping ids are dropped INSIDE the writer
    claim and only the remainder ingests; an all-known batch commits
    nothing; the grown store still equals the one-shot rebuild."""
    docs = _docs(spark)
    path = str(tmp_path / "g")
    neardup_graph_build(
        spark, docs.filter(F.col("doc_id") % 2 == 0), path, threshold=0.7
    )
    # batch overlaps history (all evens) plus the odds
    st = neardup_graph_refresh(spark, docs, path, drop_known=True)
    assert st["batch"] == 1
    assert st["docs"] == neardup_graph_signatures(spark, path).count() - (
        _docs(spark).filter(F.col("doc_id") % 2 == 0).count()
        - _shingleless_of(spark, docs.filter(F.col("doc_id") % 2 == 0))
    )
    ctl = str(tmp_path / "ctl")
    neardup_graph_build(spark, docs, ctl, threshold=0.7)
    assert _edge_set(neardup_graph_load(spark, path)) == _edge_set(
        neardup_graph_load(spark, ctl)
    )
    # an all-known batch commits nothing
    st = neardup_graph_refresh(spark, docs, path, drop_known=True)
    assert st == {"batch": None, "docs": 0, "new_edges": 0}


def _shingleless_of(spark, df) -> int:
    from big_data_hadoop_spark.operators.dedup import minhash_signatures

    return df.count() - minhash_signatures(df).count()


def test_duplicate_ids_within_batch_refused(spark, tmp_path):
    """Two different documents sharing an id would merge into one
    chimera signature (per-slot minima over the union of shingles) —
    refused loudly in build and refresh; validate_ids=False skips."""
    docs = _docs(spark).limit(20)
    doubled = docs.unionByName(
        docs.limit(1).select("doc_id", F.lit("other text entirely").alias("text"))
    )
    with pytest.raises(ValueError, match="chimera"):
        neardup_graph_build(spark, doubled, str(tmp_path / "g1"))
    path = str(tmp_path / "g2")
    neardup_graph_build(spark, docs, path)
    more = _docs(spark).filter(F.col("doc_id") >= 400)
    with pytest.raises(ValueError, match="chimera"):
        neardup_graph_refresh(
            spark, more.unionByName(more.limit(1)), path
        )


def test_second_review_pass_contracts(spark, tmp_path):
    """Round-9 second review pass: (a) two NULL-id docs get the NULL
    refusal, not a duplicate-id misdiagnosis whose dropDuplicates
    advice would silently merge them; (b) rebuilding over an existing
    store refuses on the instant filesystem check without paying the
    duplicate-id corpus scan."""
    from unittest import mock

    from big_data_hadoop_spark.operators import neardup_graph as ng

    docs = _docs(spark).limit(10)
    two_nulls = docs.unionByName(
        spark.createDataFrame(
            [(None, "a a a a a"), (None, "b b b b b")],
            "doc_id long, text string",
        )
    )
    with pytest.raises(ValueError, match="NULL doc ids"):
        neardup_graph_build(spark, two_nulls, str(tmp_path / "g0"))
    path = str(tmp_path / "g1")
    neardup_graph_build(spark, docs, path)
    with mock.patch.object(
        ng,
        "_refuse_duplicate_ids",
        side_effect=AssertionError("corpus scan ran before the refusal"),
    ):
        with pytest.raises(ValueError, match="already exists"):
            neardup_graph_build(spark, docs, path)


def test_concurrent_refreshes_serialize_and_both_commit(spark, tmp_path):
    """Two refreshes racing on one store must SERIALIZE on the writer
    claim and BOTH commit (the second folds in whatever the first
    committed — distinct batch slots, no lost edges): the store-level
    twin of the write-lock suite's concurrent-upsert pin. Final store
    equals the one-shot build over everything."""
    import threading

    docs = _docs(spark)
    path = str(tmp_path / "g")
    neardup_graph_build(
        spark, docs.filter(F.col("doc_id") % 3 == 0), path, threshold=0.7
    )
    errs = []

    def refresh(mod):
        try:
            neardup_graph_refresh(
                spark, docs.filter(F.col("doc_id") % 3 == mod), path
            )
        except Exception as exc:  # surfaced below
            errs.append(exc)

    ts = [threading.Thread(target=refresh, args=(m,)) for m in (1, 2)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs, errs
    with open(os.path.join(path, "meta.json")) as fh:
        assert json.load(fh)["batches"] == [0, 1, 2]
    ctl = str(tmp_path / "ctl")
    neardup_graph_build(spark, docs, ctl, threshold=0.7)
    assert _edge_set(neardup_graph_load(spark, path)) == _edge_set(
        neardup_graph_load(spark, ctl)
    )


def test_reader_isolated_from_concurrent_refresh(spark, tmp_path):
    """A frame loaded BEFORE a refresh keeps returning its own meta
    generation AFTER the refresh commits: batch directories are
    immutable and the old generation's dirs still exist, so the lazy
    scan is stable — the no-swap-window reader contract the store
    claims over read_table-style retry loops."""
    docs = _docs(spark)
    path = str(tmp_path / "g")
    neardup_graph_build(
        spark, docs.filter(F.col("doc_id") % 2 == 0), path, threshold=0.7
    )
    held = neardup_graph_load(spark, path)  # lazy, old generation
    before = _edge_set(held)
    neardup_graph_refresh(spark, docs.filter(F.col("doc_id") % 2 == 1), path)
    # the held frame still reads its generation…
    assert _edge_set(held) == before
    # …while a fresh load sees the grown one
    assert len(_edge_set(neardup_graph_load(spark, path))) > len(before)


def test_matches_read_path(spark, tmp_path):
    """neardup_graph_matches: (id, prior_id, jac_est) of a batch
    against the STORED signatures at the pinned parameters — identical
    to driving minhash_matches_against by hand over
    neardup_graph_signatures, and read-only (manifest unchanged).
    Non-vacuous: replanted history docs match their originals."""
    from big_data_hadoop_spark.operators.dedup import (
        minhash_matches_against,
        minhash_signatures,
    )
    from big_data_hadoop_spark.operators.neardup_graph import (
        neardup_graph_matches,
    )

    docs = _docs(spark)
    path = str(tmp_path / "g")
    neardup_graph_build(
        spark, docs.filter(F.col("doc_id") % 2 == 0), path, threshold=0.7
    )
    batch = (
        docs.filter(F.col("doc_id") % 2 == 0)
        .orderBy("doc_id")
        .limit(25)
        .select((F.col("doc_id") + 5_000_000).alias("doc_id"), "text")
    )
    got = {
        (r.doc_id, r.prior_id, round(r.jac_est, 12))
        for r in neardup_graph_matches(spark, batch, path).collect()
    }
    want = {
        (r.doc_id, r.prior_id, round(r.jac_est, 12))
        for r in minhash_matches_against(
            minhash_signatures(batch),
            neardup_graph_signatures(spark, path),
            threshold=0.7,
        ).collect()
    }
    assert got == want and len(got) >= 25  # every replant hits its original
    with open(os.path.join(path, "meta.json")) as fh:
        assert json.load(fh)["batches"] == [0]
