"""The three workloads of the benchmark.

Each workload is one closed-loop client: it issues its next op only
after the previous one returned. A workload

- ``setup(spark)`` generates its inputs from the seed and builds any
  store or index (timed as set-up, repeated by the runner);
- ``prepare()`` computes the pure-Python references (untimed);
- ``warmup()`` runs ops on warm-up inputs before timing starts;
- ``start_timed()`` restores the state every timed loop starts from;
- ``op(k)`` runs timed op ``k`` and checks its output outside the timed
  part, returning an :class:`Op`;
- ``after_op(k)`` runs any fixed-point maintenance of the op sequence
  (timed, counted in ``run_s`` but not as an op);
- ``probes()`` (traced runs only) times the layers nested inside ops;
- ``final_checks()`` runs the end-of-run output checks.

``run.py`` imports this module only after it has pointed every
temporary and Spark directory into the run's own work directory.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass

import numpy as np

from big_data_hadoop_spark.operators import similarity
from big_data_hadoop_spark.operators.cooccur import pair_counts, stripes
from big_data_hadoop_spark.operators.counts import token_counts, top_k
from big_data_hadoop_spark.operators.dedup import (
    duplicate_clusters,
    minhash_signatures,
)
from big_data_hadoop_spark.operators.neardup_graph import (
    neardup_graph_build,
    neardup_graph_compact,
    neardup_graph_load,
    neardup_graph_matches,
    neardup_graph_refresh,
)
from big_data_hadoop_spark.operators.tokenize import tokenized
from big_data_hadoop_spark.sources.io import local_frame, read_jsonl
from pyspark.sql import functions as F

from perfbench import inputs
from perfbench.procstat import work_cpu_s

DOC_SCHEMA = "doc_id long, text string"


@dataclass
class Op:
    latency_s: float
    items: int
    ok: bool
    note: str = ""
    cpu_s: float = 0.0  # process-tree CPU of the timed part, JIT excluded


def _collect(df):
    return df.collect()


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path)
        for f in files
    )


class Workload:
    name = ""
    item_unit = ""
    #: ops in the fixed timed sequence whose wall time is ``run_s``
    sequence_ops = 1

    def __init__(self, work: str, seed: int, size: dict, tracer):
        self.work, self.seed, self.size, self.tr = work, seed, size, tracer
        self.spark = None
        self.recalls: list[float] = []

    def setup(self, spark) -> None:
        self.spark = spark

    @staticmethod
    def _timed(fn):
        """``(fn(), wall seconds, work CPU seconds)``."""
        c0, t0 = work_cpu_s(), time.perf_counter()
        out = fn()
        lat = time.perf_counter() - t0
        return out, lat, work_cpu_s() - c0

    def prepare(self) -> None:
        pass

    def warmup(self) -> None:
        pass

    def start_timed(self) -> None:
        pass

    def after_op(self, k: int) -> float:
        return 0.0

    def probes(self) -> None:
        pass

    def final_checks(self) -> list[tuple[str, bool]]:
        return []

    def recall(self) -> float:
        return float(np.mean(self.recalls)) if self.recalls else 0.0


# ------------------------------------------------------------ corpus_counts


class CorpusCounts(Workload):
    """The paper's suite as a batch: each op is one pass of token counts
    with top-1000, forward pairs (m=1, m=3) and stripes (m=2) over a Zipf
    corpus read from JSON lines."""

    name = "corpus_counts"
    item_unit = "tokens"
    sequence_ops = 8

    def setup(self, spark) -> None:
        super().setup(spark)
        sz = self.size
        rng = inputs.rng_for(self.seed, 0)
        vocab = inputs.vocabulary(rng, sz["vocab"])
        nums = inputs.numbers(sz["numbers"])
        self.docs = inputs.zipf_documents(rng, sz["docs"], vocab, nums)
        self.corpus_dir = os.path.join(self.work, "corpus")
        self.slice_dir = os.path.join(self.work, "corpus_slice")
        rows = list(enumerate(self.docs))
        inputs.write_jsonl(self.corpus_dir, rows)
        inputs.write_jsonl(self.slice_dir, rows[: sz["slice"]])

    def prepare(self) -> None:
        ref = inputs.CorpusReference(self.docs)
        self.tokens = sum(len(d.split(" ")) for d in self.docs)
        self.ref_top = ref.top_k(1000)
        self.ref_pairs = {
            m: (len(p), sum(p.values()))
            for m, p in ((m, ref.pair_counts(m)) for m in (1, 3))
        }
        self.ref_stripes = ref.stripe_summary(2)
        self.slice_ref = inputs.CorpusReference(
            self.docs[: self.size["slice"]]
        )

    def _corpus(self, path=None):
        return read_jsonl(self.spark, path or self.corpus_dir, DOC_SCHEMA)

    def _pass(self):
        tr = self.tr
        df = self._corpus()
        top = tr.lazy(
            "counts.token_counts_top_k",
            lambda: top_k(token_counts(df), 1000),
            _collect,
        )
        pairs = {
            m: tr.lazy(
                f"cooccur.pair_counts_m{m}",
                lambda m=m: pair_counts(df, m=m).agg(
                    F.count(F.lit(1)), F.sum("cnt")
                ),
                _collect,
            )[0]
            for m in (1, 3)
        }
        st = tr.lazy(
            "cooccur.stripes_m2",
            lambda: stripes(df, m=2).agg(
                F.count(F.lit(1)), F.sum(F.size("stripe")), F.sum("mass")
            ),
            _collect,
        )[0]
        return top, pairs, st

    def warmup(self) -> None:
        # the JVM's JIT compilation takes several passes to settle; timed
        # passes that ran during it would cost more CPU the busier the host
        for _ in range(self.size["warmup_passes"]):
            self._pass()

    def op(self, k: int) -> Op:
        (top, pairs, st), lat, cpu = self._timed(self._pass)
        got_top = [(r.token, r.cnt) for r in top]
        ref_keys = {t for t, _ in self.ref_top}
        self.recalls.append(
            len(ref_keys & {t for t, _ in got_top}) / max(len(ref_keys), 1)
        )
        ok = (
            got_top == self.ref_top
            and all(tuple(pairs[m]) == self.ref_pairs[m] for m in (1, 3))
            and tuple(st) == self.ref_stripes
        )
        return Op(lat, self.tokens, ok, cpu_s=cpu)

    def probes(self) -> None:
        self.tr.lazy("io.read_jsonl", self._corpus, _noop)
        self.tr.lazy(
            "tokenize.tokenized", lambda: tokenized(self._corpus()), _noop
        )

    def final_checks(self) -> list[tuple[str, bool]]:
        sl = self._corpus(self.slice_dir)
        got = {
            (r.category, r.token): r.cnt for r in token_counts(sl).collect()
        }
        ref = self.slice_ref.token_counts()
        categorized = sum(
            1 for d in self.slice_ref.docs for t in d.split(" ")
            if inputs.category(t) is not None
        )
        checks = [
            ("slice token_counts", got == dict(ref)),
            ("summed counts", sum(got.values()) == categorized),
        ]
        for m in (1, 3):
            got = {
                (r.category, r.left, r.right): r.cnt
                for r in pair_counts(sl, m=m).collect()
            }
            checks.append(
                (f"slice pair_counts m={m}", got == dict(self.slice_ref.pair_counts(m)))
            )
        return checks


# ----------------------------------------------------------- neardup_ingest


class NeardupIngest(Workload):
    """The near-dup graph store's lifecycle. Each op is a refresh of a
    fresh batch (the write path) followed by a read-only novelty check of
    a half-known probe batch and the duplicate clusters of the loaded
    graph. A compaction runs after the first op of every timed loop."""

    name = "neardup_ingest"
    item_unit = "docs"
    sequence_ops = 4
    compact_after = 0
    threshold = 0.8
    # ids: base docs from 0, refresh batch k from REFRESH + k * STRIDE,
    # probe batch k from PROBE + k * STRIDE; warm-up batches use stream 9
    REFRESH, PROBE, STRIDE = 10_000_000, 20_000_000, 10_000

    def setup(self, spark) -> None:
        super().setup(spark)
        sz = self.size
        rng = inputs.rng_for(self.seed, 0)
        self.vocab = inputs.vocabulary(rng, sz["vocab"])
        n = sz["base_docs"]
        texts = self._texts(rng, n)
        copies = rng.choice(n, sz["base_copies"], replace=False)
        rows = list(enumerate(texts))
        self.planted = set()
        for j, src in enumerate(copies.tolist()):
            rows.append((n + j, inputs.near_copy(rng, texts[src], self.vocab)))
            self.planted.add((src, n + j))
        self.base_texts = texts
        self.base_dir = os.path.join(self.work, "base")
        inputs.write_jsonl(self.base_dir, rows)
        self.store = os.path.join(self.work, "store")
        self.snapshot = os.path.join(self.work, "store_snapshot")
        self.tr.eager(
            "neardup_graph.build",
            lambda: neardup_graph_build(
                spark, read_jsonl(spark, self.base_dir, DOC_SCHEMA),
                self.store, threshold=self.threshold,
            ),
        )
        shutil.copytree(self.store, self.snapshot)
        self.base_planted = set(self.planted)
        self.base_rows = len(rows)

    def _texts(self, rng, n: int) -> list[str]:
        sz = self.size
        lengths = rng.integers(sz["min_tokens"], sz["max_tokens"] + 1, n)
        ranks = inputs.zipf_sample(rng, len(self.vocab), 1.0, int(lengths.sum()))
        toks = self.vocab[ranks]
        bounds = np.concatenate([[0], np.cumsum(lengths)])
        return [" ".join(toks[bounds[i]:bounds[i + 1]]) for i in range(n)]

    def _batch(self, stream: int, k: int, first_id: int, docs: int = 0):
        """``docs`` (default: the batch size) documents, half fresh, half
        near-copies of base documents: rows plus the planted
        ``(source, copy)`` pairs."""
        rng = inputs.rng_for(self.seed, stream, k)
        half = (docs or self.size["batch"]) // 2
        rows = list(enumerate(self._texts(rng, half), start=first_id))
        planted = set()
        for j, src in enumerate(rng.choice(len(self.base_texts), half).tolist()):
            cid = first_id + half + j
            rows.append((cid, inputs.near_copy(rng, self.base_texts[src], self.vocab)))
            planted.add((src, cid))
        path = os.path.join(self.work, f"batch-{stream}-{k}")
        if not os.path.exists(path):
            inputs.write_jsonl(path, rows)
        return path, rows, planted

    def start_timed(self) -> None:
        shutil.rmtree(self.store)
        shutil.copytree(self.snapshot, self.store)
        self.planted = set(self.base_planted)
        self.ingested = self.base_rows

    def _cycle(self, refresh_path, probe_path):
        tr, spark = self.tr, self.spark
        before = _dir_bytes(self.store) if tr.enabled else 0
        st = tr.eager(
            "neardup_graph.refresh",
            lambda: neardup_graph_refresh(
                spark, read_jsonl(spark, refresh_path, DOC_SCHEMA), self.store
            ),
        )
        if tr.enabled:
            tr.count("io.bytes_written", _dir_bytes(self.store) - before)
            tr.count("dedup.edges_per_doc", st["new_edges"] / max(st["docs"], 1))
            with open(os.path.join(self.store, "meta.json")) as fh:
                tr.count("store.batch_dirs", len(json.load(fh)["batches"]))
        matches = tr.lazy(
            "neardup_graph.matches",
            lambda: neardup_graph_matches(
                spark, read_jsonl(spark, probe_path, DOC_SCHEMA), self.store
            ),
            _collect,
        )
        loaded = tr.lazy(
            "neardup_graph.load",
            lambda: neardup_graph_load(spark, self.store),
            lambda df: df,
        )
        clusters = tr.lazy(
            "dedup.duplicate_clusters",
            lambda: duplicate_clusters(loaded),
            _collect,
        )
        return st, matches, clusters

    def warmup(self) -> None:
        self.start_timed()
        # a small batch compiles the same queries as a full one
        small = self.size["batch"] // 4
        rp, _, _ = self._batch(9, 0, self.REFRESH - self.STRIDE, small)
        pp, _, _ = self._batch(9, 1, self.PROBE - self.STRIDE, small)
        self._cycle(rp, pp)

    def op(self, k: int) -> Op:
        rp, rrows, rplanted = self._batch(1, k, self.REFRESH + k * self.STRIDE)
        pp, _, pplanted = self._batch(2, k, self.PROBE + k * self.STRIDE)
        (st, matches, clusters), lat, cpu = self._timed(
            lambda: self._cycle(rp, pp)
        )
        self.planted |= rplanted
        self.ingested += len(rrows)
        # the novelty check must find the probe's near-copies, and only them
        copies = {c for _, c in pplanted}
        found = {r.doc_id for r in matches}
        match_recall = len(found & copies) / len(copies)
        # planted pairs the graph has joined into one cluster
        cl = {r.member_id: r.cluster_id for r in clusters}
        joined = sum(
            1 for a, b in self.planted
            if a in cl and b in cl and cl[a] == cl[b]
        ) / len(self.planted)
        ok = (
            st["docs"] == len(rrows)
            and found <= copies
            and match_recall >= self.size["recall_floor"]
            and joined >= self.size["recall_floor"]
        )
        return Op(lat, len(rrows), ok, f"match_recall={match_recall:.3f}", cpu)

    def after_op(self, k: int) -> float:
        if k != self.compact_after:
            return 0.0
        t0 = time.perf_counter()
        st = self.tr.eager(
            "neardup_graph.compact",
            lambda: neardup_graph_compact(self.spark, self.store),
        )
        lat = time.perf_counter() - t0
        if st["docs"] != self.ingested:
            raise RuntimeError(f"compaction kept {st['docs']} of {self.ingested} docs")
        return lat

    def probes(self) -> None:
        rp, _, _ = self._batch(1, 0, self.REFRESH)
        self.tr.lazy(
            "io.read_jsonl",
            lambda: read_jsonl(self.spark, rp, DOC_SCHEMA),
            _noop,
        )
        self.tr.lazy(
            "dedup.minhash_signatures",
            lambda: minhash_signatures(read_jsonl(self.spark, rp, DOC_SCHEMA)),
            _noop,
        )

    def final_checks(self) -> list[tuple[str, bool]]:
        edges = {
            (min(r.id_a, r.id_b), max(r.id_a, r.id_b))
            for r in neardup_graph_load(self.spark, self.store).collect()
        }
        found = sum(1 for a, b in self.planted if (min(a, b), max(a, b)) in edges)
        recall = found / len(self.planted)
        self.recalls = [recall]
        return [("planted-pair recall", recall >= self.size["recall_floor"])]


# ---------------------------------------------------------------- ann_serve


class AnnServe(Workload):
    """IVF serving: each op sends one batch of external query vectors
    through ``ivf_search_vectors`` and collects the top-10 neighbours."""

    name = "ann_serve"
    item_unit = "queries"
    sequence_ops = 8
    k = 10
    n_probe = 4

    def setup(self, spark) -> None:
        super().setup(spark)
        import pyarrow as pa
        import pyarrow.parquet as pq

        sz = self.size
        rng = inputs.rng_for(self.seed, 0)
        self.centres = rng.normal(0.0, 1.0, (sz["clusters"], sz["dim"]))
        self.vectors = inputs.gaussian_mixture(
            rng, self.centres, sz["vectors"], sz["sigma"]
        )
        path = os.path.join(self.work, "embeddings")
        os.makedirs(path, exist_ok=True)
        pq.write_table(
            pa.table({
                "vec_id": np.arange(sz["vectors"], dtype=np.int64),
                "embedding": list(self.vectors.astype(np.float32)),
            }),
            os.path.join(path, "part-00000.parquet"),
        )
        # the engine sees the float32 values the file holds
        self.vectors = self.vectors.astype(np.float32).astype(np.float64)
        emb = spark.read.parquet(path)
        self.index = self.tr.eager(
            "similarity.ivf_build",
            lambda: similarity.ivf_build(
                emb, n_cells=sz["cells"], table="perfbench_ivf",
                n_rows=sz["vectors"],
            ),
        )

    def _queries(self, stream: int, k: int):
        rng = inputs.rng_for(self.seed, stream, k)
        q = inputs.gaussian_mixture(
            rng, self.centres, self.size["batch"], self.size["sigma"]
        )
        ids = [k * 10_000 + i for i in range(len(q))]
        rows = [(i, v.tolist()) for i, v in zip(ids, q)]
        return ids, rows, q

    def _search(self, rows):
        frame = self.tr.eager(
            "io.local_frame",
            lambda: local_frame(
                self.spark, rows, "query_id long, embedding array<double>"
            ),
        )
        return self.tr.lazy(
            "similarity.ivf_search_vectors",
            lambda: similarity.ivf_search_vectors(
                self.index, frame, k=self.k, n_probe=self.n_probe
            ),
            _collect,
        )

    def warmup(self) -> None:
        for j in range(self.size["warmup_batches"]):
            self._search(self._queries(9, j)[1])

    def op(self, k: int) -> Op:
        ids, rows, q = self._queries(1, k)
        res, lat, cpu = self._timed(lambda: self._search(rows))
        got: dict[int, set] = {}
        for r in res:
            got.setdefault(r.query_id, set()).add(r.neighbor_id)
        exact = inputs.exact_topk(self.vectors, q, self.k)
        recall = float(np.mean([
            len(got.get(i, set()) & set(e)) / self.k for i, e in zip(ids, exact)
        ]))
        self.recalls.append(recall)
        ok = (
            all(len(got.get(i, ())) == self.k for i in ids)
            and recall >= self.size["recall_floor"]
        )
        return Op(lat, len(rows), ok, f"recall={recall:.3f}", cpu)


WORKLOADS = {w.name: w for w in (CorpusCounts, NeardupIngest, AnnServe)}

#: Input sizes. ``tiny`` is for the benchmark's self-tests only.
SIZES = {
    "full": {
        "corpus_counts": {
            "docs": 1500, "vocab": 100_000, "numbers": 20_000, "slice": 200,
            "warmup_passes": 6,
        },
        "neardup_ingest": {
            "vocab": 30_000, "base_docs": 1000, "base_copies": 100,
            "min_tokens": 60, "max_tokens": 80, "batch": 200,
            "recall_floor": 0.95,
        },
        "ann_serve": {
            "vectors": 10_000, "dim": 32, "clusters": 256, "sigma": 0.35,
            "cells": 16, "batch": 32, "warmup_batches": 12, "recall_floor": 0.8,
        },
    },
    "tiny": {
        "corpus_counts": {
            "docs": 200, "vocab": 2000, "numbers": 500, "slice": 50,
            "warmup_passes": 1,
        },
        "neardup_ingest": {
            "vocab": 3000, "base_docs": 120, "base_copies": 12,
            "min_tokens": 60, "max_tokens": 80, "batch": 20,
            "recall_floor": 0.9,
        },
        "ann_serve": {
            "vectors": 1000, "dim": 8, "clusters": 8, "sigma": 0.2,
            "cells": 4, "batch": 8, "warmup_batches": 1, "recall_floor": 0.6,
        },
    },
}
