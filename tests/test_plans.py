"""Physical-plan audits: the scale-critical plan shapes, pinned by test.

These are the properties that decide whether a probe survives a 100x
scale-up — if a refactor regresses pushdown, broadcast selection, or
top-K form, this file fails even though results stay correct.
"""

from __future__ import annotations

from big_data_hadoop_spark.plans import (
    has_broadcast_join,
    has_cartesian_product,
    has_take_ordered,
    pushed_filters,
    read_schemas,
)
from big_data_hadoop_spark.probes import QUERIES
from tests.conftest import SF_SMOKE


def test_filter_and_projection_reach_scan(spark):
    df = QUERIES["q07_filter_project"](spark, SF_SMOKE)
    pf = pushed_filters(df)
    assert any("l_quantity" in f and "GreaterThan" in f for f in pf), pf
    assert any("l_returnflag" in f and "EqualTo" in f for f in pf), pf
    (schema,) = read_schemas(df)
    # only the 4 referenced columns leave the file — not the full lineitem
    assert schema.count(":") == 4, schema


def test_tokenization_scans_only_text(spark):
    (schema,) = read_schemas(QUERIES["q03_pairs_m1"](spark, SF_SMOKE))
    assert schema == "struct<text:string>", schema


def test_stripes_reads_source_once(spark):
    """Empty stripes come from the window's own sentinel entries: one
    scan of the corpus, no vocabulary re-tokenized and joined back."""
    from big_data_hadoop_spark.operators.cooccur import stripes
    from big_data_hadoop_spark.plans.audit import formatted_plan
    from big_data_hadoop_spark.sources.io import load_table

    st = stripes(load_table(spark, SF_SMOKE, "documents"), m=2)
    assert len(read_schemas(st)) == 1
    assert "Join" not in formatted_plan(st)


def test_window_generate_inside_codegen(spark):
    """The pair-generating Generate runs inside a whole-stage-codegen
    stage: its generator holds no lambda (CodegenFallback)."""
    import re

    from big_data_hadoop_spark.operators.cooccur import pair_counts
    from big_data_hadoop_spark.sources.io import load_table

    df = pair_counts(load_table(spark, SF_SMOKE, "documents"), m=3)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    final = final.split("== Initial Plan ==")[0]
    (gen,) = [ln for ln in final.splitlines() if " Generate " in ln]
    assert "lambdafunction" not in gen, gen
    assert re.search(r"\*\(\d+\) Generate ", gen), gen


def test_dimension_joins_broadcast(spark):
    assert has_broadcast_join(QUERIES["q09_join_agg"](spark, SF_SMOKE))
    assert has_broadcast_join(QUERIES["q10_multijoin_date"](spark, SF_SMOKE))


def test_date_filter_pushed_below_join(spark):
    pf = pushed_filters(QUERIES["q10_multijoin_date"](spark, SF_SMOKE))
    assert any("o_orderdate" in f and "GreaterThanOrEqual" in f for f in pf), pf


def test_topk_plans_as_take_ordered(spark):
    assert has_take_ordered(QUERIES["q01_word_counts"](spark, SF_SMOKE))
    assert has_take_ordered(QUERIES["q06_top1000_words"](spark, SF_SMOKE))


def test_no_cartesian_products_anywhere(spark):
    for name, q in QUERIES.items():
        assert not has_cartesian_product(q(spark, SF_SMOKE)), name


# Probes whose semantics genuinely need Python (and are therefore
# Arrow-batched, never row-at-a-time): the q56 EWM recurrence, the q72
# BPE merge-application loop, and q73's zlib calls. Everything else
# must stay native.
_DECLARED_ARROW_PROBES = {
    "q56_ewm",
    "q72_bpe_tokenize",
    "q73_compression_signals",
}


def test_no_row_wise_python_anywhere(spark):
    """Engine-wide invariant: no probe may plan a row-at-a-time Python
    UDF (BatchEvalPython). Python appears only Arrow-batched and only
    in the declared exhibits."""
    from big_data_hadoop_spark.plans.audit import formatted_plan

    for name, q in QUERIES.items():
        plan = formatted_plan(q(spark, SF_SMOKE))
        assert "BatchEvalPython" not in plan, name
        if (
            "FlatMapGroupsInPandas" in plan
            or "ArrowEvalPython" in plan
            or "MapInPandas" in plan
        ):
            assert name in _DECLARED_ARROW_PROBES, (
                f"{name} plans a Python stage but is not a declared "
                "Arrow-batched exhibit"
            )


def test_bucketed_join_needs_no_exchange(spark, tmp_path):
    """Both join sides bucketed on the key: the sort-merge join must plan
    with ZERO shuffle exchanges — the 100 TB repeated-join shape."""
    from big_data_hadoop_spark.plans.audit import formatted_plan
    from big_data_hadoop_spark.sources.io import load_table, write_bucketed

    spark.sql(
        f"CREATE DATABASE IF NOT EXISTS bktdb LOCATION '{tmp_path}/bktdb'"
    )
    try:
        orders = load_table(spark, SF_SMOKE, "orders")
        li = load_table(spark, SF_SMOKE, "lineitem")
        write_bucketed(orders, "bktdb.orders_b", 8, "o_orderkey")
        write_bucketed(
            li.withColumnRenamed("l_orderkey", "o_orderkey"),
            "bktdb.lineitem_b",
            8,
            "o_orderkey",
        )
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = spark.table("bktdb.lineitem_b").join(
                spark.table("bktdb.orders_b"), "o_orderkey"
            )
            plan = formatted_plan(j)
            assert "SortMergeJoin" in plan, plan
            assert "Exchange" not in plan, plan
            # sanity: the same join over raw parquet DOES shuffle
            raw = li.withColumnRenamed("l_orderkey", "o_orderkey").join(
                orders, "o_orderkey"
            )
            assert "Exchange" in formatted_plan(raw)
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql("DROP DATABASE IF EXISTS bktdb CASCADE")


def test_read_text_lines_no_global_sort(spark, tmp_path):
    """The text-line source must never funnel the corpus through one
    partition: doc_id is a file-name hash, so the plan may contain only
    hash-partitioned exchanges (the per-file line_no window), never an
    ``Exchange SinglePartition`` — the round-1 scale-killer."""
    from big_data_hadoop_spark.plans.audit import formatted_plan
    from big_data_hadoop_spark.sources.io import read_text_lines

    src = tmp_path / "corpus"
    src.mkdir()
    (src / "a.txt").write_text("one two\nthree\n")
    (src / "b.txt").write_text("four\n")
    lines = read_text_lines(spark, str(src))
    plan = formatted_plan(lines)
    assert "SinglePartition" not in plan, plan
    rows = lines.collect()
    by_doc: dict[int, list[int]] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r.line_no)
    assert len(by_doc) == 2, by_doc  # one doc_id per file, no collisions
    assert sorted(ln for lns in by_doc.values() for ln in lns) == [0, 0, 1]


def test_ivf_training_sample_is_bounded(spark):
    """VERDICT r1: the KMeans fit must see at most ~train_cap rows, not
    the corpus — at 100 TB the iterative fit is otherwise the bottleneck."""
    from big_data_hadoop_spark.operators.similarity import (
        _bounded_training_sample,
    )

    e = spark.range(10_000).withColumnRenamed("id", "vec_id")
    small = _bounded_training_sample(e, "vec_id", cap=500)
    n = small.count()
    assert 0 < n <= 1_000, n  # ~cap in expectation, hard-bounded well below 10k
    # under the cap the corpus passes through untouched (no filter job)
    assert _bounded_training_sample(e, "vec_id", cap=20_000) is e
    # with n_rows supplied (parquet footer metadata) NO count() job runs:
    # a deliberately false n_rows < cap must short-circuit to identity,
    # which is only possible if the eager count was skipped (VERDICT r2 #6)
    assert _bounded_training_sample(e, "vec_id", cap=500, n_rows=50) is e
    capped = _bounded_training_sample(e, "vec_id", cap=500, n_rows=10_000)
    assert 0 < capped.count() <= 1_000


def test_parquet_row_count_matches_scan(spark):
    """The footer-metadata row count (used to derive the IVF sampling
    modulus without a cluster job) must equal what a full scan reports."""
    from big_data_hadoop_spark.sources.io import load_table, parquet_row_count

    n_meta = parquet_row_count(SF_SMOKE, "embeddings")
    n_scan = load_table(spark, SF_SMOKE, "embeddings").count()
    assert n_meta == n_scan and n_meta > 0


def test_category_partitioned_output_prunes(spark, tmp_path, golden_lines):
    """Reading one category back from the partitioned sink must plan a
    partition-pruned scan (PartitionFilters), not a full-directory read —
    the property that makes category-split output useful at scale."""
    from pyspark.sql import functions as F

    from big_data_hadoop_spark.operators.counts import token_counts
    from big_data_hadoop_spark.plans.audit import formatted_plan

    out = str(tmp_path / "counts_parquet")
    token_counts(golden_lines).write.partitionBy("category").parquet(out)
    back = spark.read.parquet(out).filter(F.col("category") == "word")
    plan = formatted_plan(back)
    assert "PartitionFilters" in plan
    assert "category" in plan.split("PartitionFilters", 1)[1][:200], plan


def test_hyperplane_cast_materialized_once(spark):
    """VERDICT r2 #1: the ``array<double>`` cast in hyperplane signatures
    must run in ONE projection, not be re-inlined under every plane's dot
    (the HOF-recompute family — num_planes x the cast work per row)."""
    import re

    from big_data_hadoop_spark.operators.similarity import (
        hyperplane_signatures,
    )
    from big_data_hadoop_spark.sources.io import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    df = hyperplane_signatures(emb, dim=64, num_planes=8)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    casts = re.findall(r"cast\(embedding", opt)
    assert len(casts) == 1, f"expected one materialized cast, saw {len(casts)}"


def test_cosine_neardup_n_parts_sizes_exchange_only(spark):
    """VERDICT r3 #6: n_parts must size the codegen-boundary exchanges
    without changing the exchange COUNT (same plan shape, different
    partition number)."""
    from big_data_hadoop_spark.operators.similarity import (
        cosine_neardup_pairs,
    )
    from big_data_hadoop_spark.plans.audit import formatted_plan
    from big_data_hadoop_spark.probes import EMBED_DIM
    from big_data_hadoop_spark.sources.io import load_table
    from tests.conftest import SF_ORACLE

    emb = load_table(spark, SF_ORACLE, "embeddings")
    default_plan = formatted_plan(
        cosine_neardup_pairs(emb, threshold=0.4, dim=EMBED_DIM)
    )
    sized_plan = formatted_plan(
        cosine_neardup_pairs(emb, threshold=0.4, dim=EMBED_DIM, n_parts=5)
    )
    assert default_plan.count("Exchange") == sized_plan.count("Exchange")
    assert "hashpartitioning" in sized_plan
    assert ", 5)" in sized_plan, sized_plan  # hashpartitioning(vec_a, 5)


def test_bm25_small_sides_broadcast(spark):
    """BM25 scoring: the one-row totals frame joins by broadcast, and
    no exchange carries raw document text past the postings build."""
    from big_data_hadoop_spark.plans.audit import formatted_plan
    from big_data_hadoop_spark.probes import QUERIES

    plan = formatted_plan(QUERIES["q70_bm25_topk"](spark, SF_SMOKE))
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_pq_codebook_and_lut_broadcast(spark):
    """PQ encode joins the m*k codebook by broadcast; ADC search joins
    the query LUT by broadcast — the corpus side never shuffles raw
    vectors for either."""
    from big_data_hadoop_spark.operators.pq import pq_encode, pq_search, pq_train
    from big_data_hadoop_spark.plans.audit import formatted_plan
    from big_data_hadoop_spark.probes import EMBED_DIM
    from big_data_hadoop_spark.sources.io import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    cb = pq_train(emb, dim=EMBED_DIM, m=4, k=4, seed=3)
    enc_plan = formatted_plan(pq_encode(emb, cb))
    assert enc_plan.count("BroadcastExchange") >= 1, enc_plan
    queries = emb.limit(2).select(F.col("vec_id").alias("query_id"), "embedding")
    search_plan = formatted_plan(pq_search(pq_encode(emb, cb), cb, queries, topk=3))
    assert search_plan.count("BroadcastExchange") >= 2, search_plan


def test_ngram_lm_totals_broadcast_and_lazy(spark):
    """LM scoring: the one-row totals frame rides a broadcast join; the
    count tables join as plain equi-joins (broadcastable via AQE when
    small, shuffle joins at scale)."""
    from big_data_hadoop_spark.operators.ngram_lm import ngram_lm_score, ngram_lm_train
    from big_data_hadoop_spark.plans.audit import formatted_plan
    from big_data_hadoop_spark.sources.io import load_table

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    lm = ngram_lm_train(docs.filter("doc_id % 2 = 0"))
    plan = formatted_plan(ngram_lm_score(docs, lm))
    assert "BroadcastExchange" in plan
    assert "BatchEvalPython" not in plan


def test_split_cluster_map_join_shape(spark):
    """Leakage-safe split: one join against the cluster map plus a
    narrow CASE — no window, no global sort in the plan."""
    from big_data_hadoop_spark.pipeline import split_leakage_safe
    from big_data_hadoop_spark.plans.audit import formatted_plan
    from big_data_hadoop_spark.sources.io import load_table

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    clusters = spark.createDataFrame(
        [(1, 0), (2, 0)], "member_id long, cluster_id long"
    )
    plan = formatted_plan(
        split_leakage_safe(docs, {"train": 0.9, "val": 0.1}, clusters=clusters)
    )
    assert "Window" not in plan
    assert "rangepartitioning" not in plan


def test_weighted_sample_global_is_take_ordered(spark):
    """The global-k draw must compile to TakeOrderedAndProject (per-
    partition top-k + k-row merge), never a full sort."""
    from pyspark.sql import functions as F

    from big_data_hadoop_spark.pipeline import weighted_sample
    from big_data_hadoop_spark.sources.io import load_table
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    plan = weighted_sample(
        docs, 10, "n_chars"
    )._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan or "global=true" not in plan


def test_cms_estimate_broadcasts_state(spark):
    """The <= d*w-row sketch joins broadcast; the probe side never
    shuffles."""
    from big_data_hadoop_spark.operators.sketches import (
        cms_build,
        cms_estimate,
    )
    from big_data_hadoop_spark.operators.tokenize import tokens
    from big_data_hadoop_spark.sources.io import load_table
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    toks = tokens(docs, lowercase=True, keep_cols=()).select("token")
    state = cms_build(toks, "token")
    plan = cms_estimate(
        state, toks.distinct(), "token"
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_dynamic_partition_pruning_fires_on_partitioned_join(spark, tmp_path):
    """Scale-truth pin: joining a hive-partitioned fact against a
    filtered dimension must prune fact PARTITIONS at runtime (DPP —
    `dynamicpruning` subquery in the scan's PartitionFilters), not
    scan every partition and filter rows after the join. At 100 TB a
    date-partitioned fact joined to `dim WHERE region = 'x'` reads
    only the matching dates' directories."""
    from pyspark.sql import functions as F

    from big_data_hadoop_spark.plans.audit import formatted_plan

    fact_path = str(tmp_path / "dpp_fact")
    (
        spark.range(0, 10_000)
        .select(
            F.col("id"),
            (F.col("id") % 50).alias("day"),
            (F.col("id") * 3).alias("val"),
        )
        .write.partitionBy("day")
        .parquet(fact_path)
    )
    fact = spark.read.parquet(fact_path)
    dim = spark.createDataFrame(
        [(d, "keep" if d < 5 else "drop") for d in range(50)],
        "day long, tag string",
    )
    joined = fact.join(dim.filter(F.col("tag") == "keep"), "day").agg(
        F.sum("val").alias("s")
    )
    plan = formatted_plan(joined)
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    # and the result is correct: only days 0-4 contribute
    expect = sum(i * 3 for i in range(10_000) if i % 50 < 5)
    assert joined.collect()[0].s == expect


def test_shuffled_shards_single_exchange_no_global_sort(spark):
    """The trainer-export shuffle must cost ONE hash repartition and a
    within-partition sort — never a global orderBy (range sampling +
    total sort of the corpus for an order nobody needs across shard
    boundaries)."""
    from big_data_hadoop_spark.pipeline import shuffled_shards
    from big_data_hadoop_spark.plans.audit import formatted_plan
    from big_data_hadoop_spark.sources.io import load_table

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    plan = formatted_plan(shuffled_shards(docs, 8, seed=1))
    import re

    assert plan.count(") Exchange") == 1, plan
    assert "hashpartitioning" in plan, plan
    assert "rangepartitioning" not in plan, plan
    # every Sort is within-partition (global flag false)
    sorts = re.findall(
        r"\(\d+\) Sort\b[\s\S]*?Arguments: \[[^\]]*\], (\w+)", plan
    )
    assert sorts and all(g == "false" for g in sorts), plan


def test_recall_audit_truth_broadcasts_sample_not_history(spark, tmp_path):
    """The audit's exact-truth scan must ship the FIXED-SIZE sample to
    executors and stream the history past it (|history| x sample,
    linear in history). A plan that broadcast the history — or fell
    into an unconditioned CartesianProduct — would stop scaling the
    moment the store grows."""
    from big_data_hadoop_spark.operators.embedding_store import (
        _truth_frame,
        embedding_store_build,
        embedding_store_load,
    )
    from big_data_hadoop_spark.sources.io import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id", "embedding"
    )
    path = str(tmp_path / "store")
    embedding_store_build(
        spark, emb.filter("vec_id % 2 = 0"), path,
        eps=0.4, n_cells=2, dim=64, validate_ids=False,
    )
    sample = emb.filter("vec_id % 2 = 1").limit(16).localCheckpoint(
        eager=True
    )
    truth = _truth_frame(
        sample, embedding_store_load(spark, path), 0.4, 64,
        "vec_id", "embedding",
    )
    from big_data_hadoop_spark.plans.audit import formatted_plan

    plan = formatted_plan(truth)
    # non-equi join -> nested loop; the BUILT (broadcast) side must be
    # the sample, which sits on the LEFT of the join in _truth_frame
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "BuildLeft" in plan, plan
    assert not has_cartesian_product(truth)


def test_matches_history_scan_is_cell_pruned(spark, tmp_path):
    """The read-only novelty verb (``embedding_store_matches``) must
    push its probe batch's checked-cell set into the history parquet
    scan (``In(cell, ...)`` in PushedFilters — the refresh path's
    pruning, round-11 advice applied to the read verb): a cell-sparse
    decontamination batch against a big store reads ~k/n of history,
    not all of it. Also pinned: the pruned verdict is row-identical to
    an unpruned within-cell join."""
    from pyspark.sql import functions as F

    from big_data_hadoop_spark.operators.embedding_store import (
        _matches,
        assign_cells,
        embedding_store_build,
        embedding_store_load,
        embedding_store_matches,
    )
    from big_data_hadoop_spark.plans.audit import pushed_filters
    from big_data_hadoop_spark.sources.io import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id", "embedding"
    )
    path = str(tmp_path / "store")
    embedding_store_build(
        spark, emb.filter("vec_id % 2 = 0"), path,
        eps=0.4, n_cells=4, dim=64, validate_ids=False,
    )
    # a probe that provably touches ONE cell: three stored rows from
    # the history's most popular cell (their assignment is pinned)
    hist = embedding_store_load(spark, path)
    top_cell = (
        hist.groupBy("cell").count().orderBy(F.desc("count")).first()[0]
    )
    probe = (
        hist.filter(F.col("cell") == top_cell)
        .select("vec_id", "embedding")
        .limit(3)
        .localCheckpoint(eager=True)
    )
    hits = embedding_store_matches(spark, probe, path)
    # a one-cell probe pushes In(cell, ...) — which Catalyst rewrites
    # to EqualTo(cell, k) for a single value; either form proves the
    # membership predicate reached the parquet scan
    pf = ",".join(pushed_filters(hits)).lower()
    assert "in(cell" in pf or "equalto(cell" in pf, pushed_filters(hits)
    # verdict identical to the unpruned join (same machinery, full
    # history): pruning must never change the match set
    import json
    import os

    with open(os.path.join(path, "meta.json")) as fh:
        meta = json.load(fh)
    unpruned = _matches(
        assign_cells(probe, meta["centroids"]),
        hist, meta["eps"], meta["dim"], "vec_id", "embedding",
    )
    assert sorted(r.vec_id for r in hits.collect()) == sorted(
        r.vec_id for r in unpruned.collect()
    )


def test_lsh_multi_table_broadcast_equi_join_no_cartesian(spark):
    """Round-12 LSH multi-table lever: the (table, bucket) candidate
    join must stay a BROADCAST hash equi-join (queries are the tiny
    build side) — never a cartesian/nested-loop — and every table's
    signature must read the ONE materialized ``emb_d`` cast: the
    ``array<double>`` cast count in the optimized plan is a fixed
    per-branch constant (filter predicate + corpus/query projections),
    INDEPENDENT of ``n_tables`` (the HOF-recompute family's failure
    mode would scale it ×L)."""
    import re

    from big_data_hadoop_spark.operators.similarity import (
        lsh_bucketed_topk,
    )
    from big_data_hadoop_spark.plans.audit import formatted_plan
    from big_data_hadoop_spark.sources.io import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")

    def casts_at(n_tables: int) -> int:
        df = lsh_bucketed_topk(
            emb, query_ids=[1, 2, 3], k=5, dim=64, num_planes=8,
            n_tables=n_tables,
        )
        opt = df._jdf.queryExecution().optimizedPlan().toString()
        return len(re.findall(r"cast\(embedding", opt))

    df = lsh_bucketed_topk(
        emb, query_ids=[1, 2, 3], k=5, dim=64, num_planes=8, n_tables=4
    )
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert casts_at(2) == casts_at(8), "cast count must not scale with L"


def test_every_top_k_plans_a_window_group_limit(spark):
    """Every per-group top-k goes through ``functions.rank.top_k_per``,
    so the physical choice is made once: a ``row_number`` window under a
    constant rank filter, which the optimizer turns into a
    ``WindowGroupLimit`` (the partial limit that runs before the
    window's exchange). Pinned on each ranked operator family."""
    from pyspark.sql import functions as F

    from big_data_hadoop_spark.operators import pq
    from big_data_hadoop_spark.operators import similarity as sim
    from big_data_hadoop_spark.operators.bm25 import bm25_index, bm25_topk
    from big_data_hadoop_spark.pipeline import cap_per_group
    from big_data_hadoop_spark.probes import EMBED_DIM
    from big_data_hadoop_spark.sources.io import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    queries = emb.limit(3).select(F.col("vec_id").alias("query_id"), "embedding")
    docs = load_table(spark, SF_SMOKE, "documents")
    text_q = docs.limit(3).select(F.col("doc_id").alias("query_id"), "text")
    cb = pq.pq_train(emb, dim=EMBED_DIM, m=4, k=4, seed=3)
    ivfpq = pq.ivfpq_build(emb, dim=EMBED_DIM, n_cells=4, m=4, k=4, seed=3)
    ranked = {
        "cosine_topk": sim.cosine_topk(emb, [1, 2], k=5, dim=EMBED_DIM),
        "cosine_topk_vectors": sim.cosine_topk_vectors(emb, queries, k=5),
        "ivf_search_vectors": sim.ivf_search_vectors(
            sim.ivf_build(emb, n_cells=4), queries, k=5, n_probe=2
        ),
        "pq_search": pq.pq_search(pq.pq_encode(emb, cb), cb, queries, topk=3),
        "ivfpq_search": pq.ivfpq_search(ivfpq, queries, topk=3, n_probe=2),
        "bm25_topk": bm25_topk(bm25_index(docs), text_q, topk=5),
        "cap_per_group": cap_per_group(docs, group_col="source", cap=10),
    }
    for name, df in ranked.items():
        opt = df._jdf.queryExecution().optimizedPlan().toString()
        assert "WindowGroupLimit" in opt, (name, opt)


def test_ivf_search_scores_flat_columns_after_the_cell_lookup(spark):
    """IVF serving scores each candidate pair with one codegen'd
    multiply-add chain over scalar columns: the probed queries are one
    literal that each serving row reads by its cell (a ``Generate``,
    no join), the projection right above it holds no array fold
    (``aggregate``/``zip_with``), the literal's ``from_json`` is
    folded, and the top-k still plans a ``WindowGroupLimit``."""
    from pyspark.sql import functions as F

    from big_data_hadoop_spark.operators import similarity as sim
    from big_data_hadoop_spark.sources.io import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    queries = emb.limit(3).select(F.col("vec_id").alias("query_id"), "embedding")
    plan = sim.ivf_search_vectors(
        sim.ivf_build(emb, n_cells=4), queries, k=5, n_probe=2
    )._jdf.queryExecution().optimizedPlan()
    text = plan.toString()
    assert "JsonToStructs" not in text and "from_json" not in text, text
    assert "WindowGroupLimit" in text, text
    assert "Join" not in text, text
    node = plan
    while node.children().head().nodeName() != "Generate":
        node = node.children().head()
    post_lookup = node.simpleString(100_000)
    assert node.nodeName() == "Project", post_lookup
    assert "_b1" in post_lookup and "_a1" in post_lookup, post_lookup
    assert "aggregate" not in post_lookup, post_lookup
    assert "zip_with" not in post_lookup, post_lookup
