"""Benchmark of record for big_data_hadoop_spark.

Run from the root of a checkout::

    python3 perfbench/run.py --workload corpus_counts --seed 1 --seconds 8 --trace 0

One closed-loop client drives the engine on ``local[<nproc>]``. The run
sets up three times (session start, input generation from the seed,
store or index build) and reports the median as ``setup_s``; warms up;
then times ops for ``--seconds`` (and at least the workload's fixed op
sequence). Every op's output is checked against a pure-Python reference
outside the timed part. The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}`` with the
end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``). See ``perfbench/README.md`` for the metric definitions.

All files the run writes (inputs, stores, Spark scratch, JVM temp
files) live under ``.perfbench/`` in the checkout and are removed at
exit, except the span file a traced run leaves in ``.perfbench/traces``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPS = 3
WATCHDOG_S = 170  # a run must end within 180 s
WORKLOADS = ("corpus_counts", "neardup_ingest", "ann_serve")
#: A fixed young generation keeps the JVM's resident size from following
#: G1's adaptive sizing, which otherwise moves peak_rss_mb by up to a
#: third between identical runs. Compiler threads that never exit keep
#: their CPU seconds countable (see ``procstat.work_cpu_s``).
DRIVER_JAVA_OPTIONS = "-Xmn384m -XX:-UseDynamicNumberOfCompilerThreads"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--size", choices=("full", "tiny"), default="full",
        help="input size; 'tiny' is for the self-tests",
    )
    return p.parse_args(argv)


def isolate(work: str, cpus: int) -> None:
    """Point every temporary directory the run touches (Python, the JVMs,
    Spark's block manager) into ``work``, before pyspark starts a JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # no hsperfdata under /tmp; java.io.tmpdir for both spark-submit JVMs
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "")
        + f" -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    ).strip()
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    # few malloc arenas: the JVM's native memory stops varying with how
    # its threads happened to be scheduled
    os.environ["MALLOC_ARENA_MAX"] = "2"


def tail(latencies: list[float]) -> tuple[float, float, int]:
    """``(value, percentile, samples beyond)``: the highest percentile with
    at least ten samples beyond it. A run with fewer than twenty ops has
    no such percentile at or above the median; it reports its slowest
    op (percentile 100, none beyond)."""
    xs = sorted(latencies)
    n = len(xs)
    if n >= 20:
        return xs[n - 11], 100.0 * (n - 10) / n, 10
    return xs[-1], 100.0, 0


class Session:
    """The run's SparkSession, restarted once per set-up repetition."""

    def __init__(self, work: str, tracer_ref):
        self.work = work
        self.spark = None
        self._tracer = tracer_ref

    def start(self, rep: int):
        from big_data_hadoop_spark.session import get_spark

        self.stop()
        warehouse = os.path.join(self.work, f"warehouse{rep}")
        self.spark = self._tracer().local(
            "session.get_spark",
            lambda: get_spark(
                app_name="perfbench",
                extra_conf={
                    "spark.sql.warehouse.dir": warehouse,
                    "spark.driver.extraJavaOptions": DRIVER_JAVA_OPTIONS,
                },
            ),
        )
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self._tracer().resolve()
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None


@dataclass
class Loop:
    ops: list
    seq_s: float  # wall time of the fixed op sequence
    busy_s: float  # all op time plus maintenance
    maint_failed: int
    op_cpu_s: list  # process-tree CPU seconds per op, JIT excluded
    steal: float  # machine steal share while the loop ran
    traced: list  # per op: was the tracer on


def timed_loop(wl, seconds: float, alternate_trace: bool = False) -> Loop:
    """Closed loop: op after op until ``seconds`` have passed and the
    fixed op sequence is complete. With ``alternate_trace`` the sequence
    runs twice over after a lead-in op 0 (often slowed by JIT compilation
    still under way), tracing ops in the order T U U T T U U T ..., so
    traced and untraced ops share the machine and any steady drift."""
    from perfbench.procstat import steal_share
    from perfbench.workloads import Op

    wl.start_timed()
    n_seq = 2 * wl.sequence_ops + 1 if alternate_trace else wl.sequence_ops
    ops, cpu, maint, maint_failed, traced = [], [], [], 0, []
    steal0, all0 = steal_share()
    t_start = time.perf_counter()
    k, streak = 0, 0
    while k < n_seq or time.perf_counter() - t_start < seconds:
        if alternate_trace:
            wl.tr.enabled = k > 0 and (k - 1) % 4 in (0, 3)
        traced.append(wl.tr.enabled)
        t0 = time.perf_counter()
        with wl.tr.span("op"):
            try:
                op = wl.op(k)
            except Exception as e:  # a failed op is counted, the loop goes on
                traceback.print_exc()
                op = Op(time.perf_counter() - t0, 0, False, repr(e)[:300])
        cpu.append(op.cpu_s)
        ops.append(op)
        if alternate_trace:  # maintenance is traced whatever the op was
            wl.tr.enabled = True
        try:
            maint.append(wl.after_op(k))
        except Exception:
            traceback.print_exc()
            maint.append(0.0)
            maint_failed += 1
            print(f"maintenance after op {k} failed", file=sys.stderr)
        if not op.ok:
            print(f"op {k} failed: {op.note}", file=sys.stderr)
        streak = streak + 1 if not op.ok else 0
        k += 1
        if streak >= 3:
            break
    steal1, all1 = steal_share()
    lat = [o.latency_s for o in ops]
    return Loop(
        ops, sum(lat[:n_seq]) + sum(maint[:n_seq]), sum(lat) + sum(maint),
        maint_failed, cpu, (steal1 - steal0) / max(all1 - all0, 1), traced,
    )


def other_layers(tracer, spark, work: str, seed: int, own: str) -> list:
    """Trace the calls the workload ``own`` never makes, on the other
    workloads' tiny inputs (set-up, one op, its maintenance and probes),
    so that a traced run measures every per-layer metric. Calls ``own``
    made are not traced again. Returns each op's check."""
    from perfbench import workloads

    tracer.skip = {sp.name for sp in tracer.spans}
    checks = []
    for name, cls in workloads.WORKLOADS.items():
        if name == own:
            continue
        wl = cls(
            os.path.join(work, f"layers-{name}"), seed,
            workloads.SIZES["tiny"][name], tracer,
        )
        wl.setup(spark)
        wl.prepare()
        wl.start_timed()
        checks.append((f"{name} layer op", wl.op(0).ok))
        wl.after_op(0)
        wl.probes()
    tracer.skip = set()
    return checks


def run(args, work: str, cpus: int) -> dict:
    from perfbench import metrics, workloads
    from perfbench.procstat import peak_rss_mb
    from perfbench.tracing import Tracer

    cls = workloads.WORKLOADS[args.workload]
    size = workloads.SIZES[args.size][args.workload]
    tracer = Tracer(lambda: session.spark, enabled=bool(args.trace), cores=cpus)
    session = Session(work, lambda: tracer)
    run_id = f"{args.workload}-seed{args.seed}"

    setup_times, wl = [], None
    phases = {}
    t_phase = time.perf_counter()

    def phase(name):
        nonlocal t_phase
        now = time.perf_counter()
        phases[name] = now - t_phase
        t_phase = now

    try:
        for rep in range(SETUP_REPS):
            tracer.run = f"{run_id}-setup{rep}"
            t0 = time.perf_counter()
            with tracer.span("setup"):
                spark = session.start(rep)
                wl = cls(os.path.join(work, f"setup{rep}"), args.seed, size, tracer)
                wl.setup(spark)
            setup_times.append(time.perf_counter() - t0)
        phase("setup")
        wl.prepare()
        phase("references")
        tracer.enabled = False
        wl.warmup()
        phase("warmup")

        if args.trace:
            tracer.run = f"{run_id}-timed"
            loop = timed_loop(wl, args.seconds, alternate_trace=True)
            tracer.enabled = True
            tracer.run = f"{run_id}-probes"
            wl.probes()
            tracer.run = f"{run_id}-other-layers"
            layer_checks = other_layers(
                tracer, session.spark, work, args.seed, args.workload
            )
        else:
            tracer.run = f"{run_id}-timed"
            loop = timed_loop(wl, args.seconds)
            layer_checks = []
        phase("timed")
        checks = wl.final_checks() + layer_checks
        tracer.resolve()
        rss = peak_rss_mb()
        phase("checks")
    finally:
        session.shutdown()
        phase("shutdown")

    ops, seq, busy = loop.ops, loop.seq_s, loop.busy_s
    failed_checks = [name for name, ok in checks if not ok]
    attempted = len(ops) + len(checks)
    failed = sum(1 for o in ops if not o.ok) + len(failed_checks) + loop.maint_failed
    lat = [o.latency_s for o in ops]
    p50 = statistics.median(lat)
    tail_v, tail_p, beyond = tail(lat)
    items = sum(o.items for o in ops if o.ok)
    e2e = {
        "setup_s": statistics.median(setup_times),
        # the fixed sequence only: ops the time floor adds on a fast host
        # run further along the JIT warm-up curve
        "op_cpu_s": statistics.median(loop.op_cpu_s[:cls.sequence_ops]),
        "recall": wl.recall(),
        "peak_rss_mb": sum(rss.values()),
    }
    wall = {
        "run_s": seq,
        "op_p50_s": p50,
        "op_tail_s": tail_v,
        "items_per_s": items / busy if busy > 0 else 0.0,
    }
    units = {name: unit for name, unit, _, _ in metrics.END_TO_END}
    units.update(metrics.WALL_TIME)

    print(f"workload {args.workload}  seed {args.seed}  size {args.size}  "
          f"local[{cpus}]  1 closed-loop client  trace {args.trace}")
    print(f"  setup repetitions (s): {', '.join(f'{t:.3f}' for t in setup_times)}")
    print("  phases (s): " + ", ".join(f"{k} {v:.1f}" for k, v in phases.items()))
    print(f"  ops {len(ops)}, op sequence {cls.sequence_ops} ops, "
          f"items {items} {cls.item_unit}; op latencies (s): "
          + ", ".join(f"{x:.3f}" for x in lat))
    print("  op CPU seconds (process tree, JIT compiler threads excluded): "
          + ", ".join(f"{x:.2f}" for x in loop.op_cpu_s)
          + f"; machine steal share {loop.steal:.3f}")
    print("  peak RSS by process (MB): "
          + ", ".join(f"{k} {v:.0f}" for k, v in rss.items()))
    for name, value in [*e2e.items(), (None, None), *wall.items()]:
        if name is None:
            print("  wall time (not declared; moves with the host's CPU steal):")
            continue
        note = ""
        if name == "op_cpu_s":
            note = f"  (median of {cls.sequence_ops} ops)"
        elif name == "op_tail_s":
            note = f"  (p{tail_p:.1f}, {beyond} of {len(lat)} samples beyond)"
        elif name == "op_p50_s":
            note = f"  ({len(lat)} samples)"
        elif name == "items_per_s":
            note = f"  ({cls.item_unit}/s)"
        print(f"  {name:<12} {value:.6g} {units[name]}{note}")
    print(f"  {'failed_ratio':<12} {failed / attempted:.6g} ratio  "
          f"({failed} of {attempted} ops and checks)")
    for name in failed_checks:
        print(f"  check failed: {name}")

    if args.trace:
        out = {}
        for call, stats in metrics.CALLS.items():
            vals = tracer.call_values(call)
            for stat in stats:
                out[f"{call}.{stat}"] = vals.get(stat, 0.0)
        for name, _, _ in metrics.COUNTERS:
            out[name] = tracer.call_values(name).get("count", 0.0)
        n_seq = cls.sequence_ops
        by_kind = {True: [], False: []}
        for i, (o, on) in enumerate(zip(ops, loop.traced)):
            if i > 0:
                by_kind[on].append(o.latency_s)
        plain = sum(by_kind[False][:n_seq])
        traced = sum(by_kind[True][:n_seq])
        out["trace.overhead_s"] = traced - plain
        out["trace.overhead_share"] = (traced - plain) / plain
        path = os.path.join(ROOT, ".perfbench", "traces", f"{run_id}.json")
        tracer.write(path)
        print(f"  {n_seq} traced ops {traced:.4f} s, {n_seq} untraced ops "
              f"{plain:.4f} s (alternating); spans in {path}")
        for name, unit, _ in metrics.per_layer():
            print(f"  {name:<48} {out[name]:.6g} {unit}")
        reported = {n: (out[n], u) for n, u, _ in metrics.per_layer()}
    else:
        reported = {n: (e2e[n], units[n]) for n in e2e}

    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": v, "unit": u} for n, (v, u) in reported.items()},
    }


def main(argv=None) -> int:
    sys.dont_write_bytecode = True
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    args = parse_args(argv)
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(
        ROOT, ".perfbench", f"run-{args.workload}-{args.seed}-{os.getpid()}"
    )
    isolate(work, cpus)

    def on_alarm(signum, frame):
        raise TimeoutError(f"run exceeded {WATCHDOG_S} s")

    def on_term(signum, frame):
        # unwind through the finally blocks: stop the JVM, remove ``work``
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGALRM, on_alarm)
    signal.signal(signal.SIGTERM, on_term)
    signal.alarm(WATCHDOG_S)
    try:
        try:
            import perfbench.workloads  # noqa: F401  (imports the engine)
        except ImportError as e:
            print(f"cannot import the engine from {ROOT}: {e}", file=sys.stderr)
            return 2
        result = run(args, work, cpus)
    finally:
        signal.alarm(0)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
