"""Self-tests of the benchmark. Run from the repo root:

    python3 -m pytest perfbench -q

The end-to-end tests run every workload at ``--size tiny`` in a child
process, traced and untraced, and check that every declared metric is
emitted with its unit and that the output checks pass.
"""

from __future__ import annotations

import glob
import json
import os
import re
import shutil
import subprocess
import sys

import numpy as np
import pytest

from perfbench import inputs, metrics
from perfbench.run import WORKLOADS, tail

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _run(args, cwd=ROOT, timeout=240):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


def test_benchmark_json_declares_the_catalogue():
    b = _benchmark_json()
    assert set(b) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end",
        "per_layer",
    }
    assert b["command"] == ["python3", "perfbench/run.py"]
    assert b["paths"] == ["perfbench"]
    assert isinstance(b["run_seconds"], int) and 1 <= b["run_seconds"] <= 60
    declared = [w["name"] for w in b["workloads"]]
    assert len(declared) >= 2 and set(declared) <= set(WORKLOADS)
    for w in b["workloads"]:
        assert set(w) == {"name", "why"}
        assert len(w["why"]) <= 200 and "\n" not in w["why"]
    assert [
        (m["name"], m["unit"], m["better"], m["bound"]) for m in b["end_to_end"]
    ] == list(metrics.END_TO_END)
    assert [
        (m["name"], m["unit"], m["better"]) for m in b["per_layer"]
    ] == metrics.per_layer()
    for m in b["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    bounds = {m["name"]: m["bound"] for m in b["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values())
    assert 1 <= len(b["per_layer"]) <= 128
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]]
    names += [w["name"] for w in b["workloads"]]
    assert len(names) == len(set(names))
    for m in b["end_to_end"] + b["per_layer"]:
        assert NAME.fullmatch(m["name"]), m["name"]
        assert UNIT.fullmatch(m["unit"]), m["unit"]
        assert m["better"] in ("higher", "lower")
    assert len(json.dumps(b)) <= 64 * 1024


def test_corpus_reference_worked_example():
    # "X" is uncategorised and the double space leaves an empty token:
    # both keep their positions but never pair.
    ref = inputs.CorpusReference(["a b a 1 2 X c", "b  a"])
    counts = ref.token_counts()
    assert counts[("word", "a")] == 3 and counts[("word", "b")] == 2
    assert counts[("number", "1")] == 1 and ("word", "X") not in counts
    assert ref.top_k(2) == [("a", 3), ("b", 2)]
    assert ref.pair_counts(1) == {
        ("word", "a", "b"): 1, ("word", "b", "a"): 1, ("number", "1", "2"): 1,
    }
    m2 = ref.pair_counts(2)
    assert m2[("word", "a", "a")] == 1 and m2[("word", "b", "a")] == 2
    stripes, entries, mass = ref.stripe_summary(2)
    assert stripes == len(counts) and mass == 2 * sum(m2.values())
    assert entries == len({(c, a, b) for c, a, b in m2} | {(c, b, a) for c, a, b in m2})


def test_generated_tokens_fall_in_the_intended_categories():
    rng = inputs.rng_for(3, 0)
    docs = inputs.zipf_documents(
        rng, 400, inputs.vocabulary(rng, 5000), inputs.numbers(1000)
    )
    toks = [t for d in docs for t in d.split(" ")]
    cats = [inputs.category(t) for t in toks]
    share = {c: cats.count(c) / len(cats) for c in ("word", "number", None)}
    assert 0.15 < share["number"] < 0.25
    assert 0.01 < share[None] < 0.06


def test_generators_are_seeded():
    def docs(seed):
        rng = inputs.rng_for(seed, 0)
        return inputs.zipf_documents(
            rng, 50, inputs.vocabulary(rng, 500), inputs.numbers(100)
        )

    assert docs(1) == docs(1)
    assert docs(1) != docs(2)


def test_tail_rule():
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 0)
    xs = [float(i) for i in range(1, 41)]  # 40 samples: p75 has 10 beyond
    assert tail(xs) == (30.0, 75.0, 10)


def test_exact_reference_matches_cosine_topk_vectors(tmp_path):
    from big_data_hadoop_spark.operators.similarity import cosine_topk_vectors
    from big_data_hadoop_spark.session import get_spark

    rng = inputs.rng_for(5, 0)
    centres = rng.normal(size=(4, 8))
    corpus = inputs.gaussian_mixture(rng, centres, 300, 0.3)
    corpus = corpus.astype(np.float32).astype(np.float64)
    queries = inputs.gaussian_mixture(rng, centres, 6, 0.3)
    spark = get_spark(extra_conf={"spark.sql.warehouse.dir": str(tmp_path)})
    try:
        got = cosine_topk_vectors(
            spark.createDataFrame(
                [(i, v.tolist()) for i, v in enumerate(corpus)],
                "vec_id long, embedding array<double>",
            ),
            spark.createDataFrame(
                [(i, v.tolist()) for i, v in enumerate(queries)],
                "query_id long, embedding array<double>",
            ),
            k=10,
        ).collect()
    finally:
        spark.stop()
    by_query: dict[int, list] = {}
    for r in sorted(got, key=lambda r: (r.query_id, -r.sim, r.neighbor_id)):
        by_query.setdefault(r.query_id, []).append(r.neighbor_id)
    assert [by_query[i] for i in range(len(queries))] == inputs.exact_topk(
        corpus, queries, 10
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_run_emits_every_metric_and_passes_its_checks(workload, trace):
    proc = _run([
        "--workload", workload, "--seed", "7", "--seconds", "1",
        "--trace", str(trace), "--size", "tiny",
    ])
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0
    assert out["attempted"] >= 1
    declared = (
        [(n, u) for n, u, _ in metrics.per_layer()] if trace
        else [(n, u) for n, u, _, _ in metrics.END_TO_END]
    )
    assert {n: m["unit"] for n, m in out["metrics"].items()} == dict(declared)
    for n, m in out["metrics"].items():
        assert isinstance(m["value"], (int, float)), n
    if trace:
        # every call is traced, including those this workload never makes
        assert all(
            m["value"] != 0 for m in out["metrics"].values() if m["unit"] == "s"
        )
    else:
        assert all(m["value"] > 0 for m in out["metrics"].values())
    assert "failed_ratio" in proc.stdout
    for name, unit in metrics.WALL_TIME:  # printed, not declared
        assert re.search(rf"^  {name} +[0-9.e+-]+ {unit}", proc.stdout, re.M)
    assert not glob.glob(os.path.join(ROOT, ".perfbench", f"run-{workload}-7-*"))


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    proc = _run(
        ["--workload", "ann_serve", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, timeout=120,
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
