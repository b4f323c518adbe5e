"""Metric catalogue: the names, units and directions ``BENCHMARK.json``
declares. ``run.py`` emits exactly these; the self-tests check that the
two agree."""

from __future__ import annotations

#: (name, unit, better, bound). ``bound`` is the share of the parent's
#: median by which a metric may worsen before a change is a regression.
END_TO_END = (
    ("setup_s", "s", "lower", 0.25),
    ("op_cpu_s", "s", "lower", 0.25),
    ("recall", "ratio", "higher", 0.02),
    ("peak_rss_mb", "MB", "lower", 0.25),
)

#: Wall-time metrics the summary prints but ``BENCHMARK.json`` does not
#: declare: on a shared host, the hypervisor's CPU steal moves them by up
#: to a half between runs of the same code, more than any useful bound.
#: (name, unit)
WALL_TIME = (
    ("run_s", "s"),
    ("op_p50_s", "s"),
    ("op_tail_s", "s"),
    ("items_per_s", "1/s"),
)

_LAZY = ("construct_s", "plan_s", "exec_s")
_SCAN = _LAZY + ("jobs", "tasks", "busy_share", "driver_gap_s")
_SHUFFLE = _LAZY + (
    "jobs", "tasks", "shuffle_write_bytes", "busy_share", "task_skew",
    "driver_gap_s",
)
_HEAVY = _LAZY + (
    "jobs", "tasks", "shuffle_write_bytes", "spill_bytes", "busy_share",
    "task_skew", "driver_gap_s",
)

#: Traced calls into the engine and the statistics each one reports.
CALLS = {
    "session.get_spark": ("call_s",),
    "io.read_jsonl": _SCAN,
    "io.local_frame": ("call_s",),
    "tokenize.tokenized": _SCAN,
    "counts.token_counts_top_k": _HEAVY,
    "cooccur.pair_counts_m1": _HEAVY,
    "cooccur.pair_counts_m3": _HEAVY,
    "cooccur.stripes_m2": _HEAVY,
    "dedup.minhash_signatures": _SHUFFLE,
    "dedup.duplicate_clusters": _SCAN,
    "neardup_graph.build": (
        "call_s", "jobs", "tasks", "shuffle_write_bytes", "busy_share",
        "driver_gap_s",
    ),
    "neardup_graph.refresh": (
        "call_s", "jobs", "tasks", "shuffle_write_bytes", "busy_share",
        "task_skew", "driver_gap_s",
    ),
    "neardup_graph.matches": _SHUFFLE,
    "neardup_graph.load": ("construct_s", "plan_s"),
    "neardup_graph.compact": ("call_s", "jobs", "tasks", "driver_gap_s"),
    "similarity.ivf_build": (
        "call_s", "jobs", "tasks", "busy_share", "driver_gap_s",
    ),
    "similarity.ivf_search_vectors": _SHUFFLE,
}

#: Counters recorded at layer boundaries: (name, unit, better).
COUNTERS = (
    ("io.bytes_written", "bytes", "lower"),
    ("dedup.edges_per_doc", "ratio", "higher"),
    ("store.batch_dirs", "count", "lower"),
)

TRACE = (
    ("trace.overhead_s", "s", "lower"),
    ("trace.overhead_share", "ratio", "lower"),
)

_STAT_UNIT = {
    "construct_s": ("s", "lower"),
    "plan_s": ("s", "lower"),
    "exec_s": ("s", "lower"),
    "call_s": ("s", "lower"),
    "jobs": ("count", "lower"),
    "tasks": ("count", "lower"),
    "shuffle_write_bytes": ("bytes", "lower"),
    "spill_bytes": ("bytes", "lower"),
    "busy_share": ("ratio", "higher"),
    "task_skew": ("ratio", "lower"),
    "driver_gap_s": ("s", "lower"),
}


def per_layer() -> list[tuple[str, str, str]]:
    """Every per-layer metric as (name, unit, better)."""
    out = [
        (f"{call}.{stat}", *_STAT_UNIT[stat])
        for call, stats in CALLS.items()
        for stat in stats
    ]
    return out + list(COUNTERS) + list(TRACE)
