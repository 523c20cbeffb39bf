"""Repository benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload ops_chain --seed 1 --seconds 10 --trace 0

Workloads (see ``workloads.py``): ``stream_microbatch`` and
``curation_suite``, the two BENCHMARK.json lists, and ``ops_chain``, the
batch operator chains, for runs by hand. All run in one driver process
at ``local[N]``, N the usable cores, as closed loops with one caller.

A run: write the seeded inputs and their expected outputs; start the
session on a cold JVM, then restart the Spark context three times in
that JVM; warm passes that also check outputs; then ``round(seconds /
pass_s)`` timed passes (at least one; at least two with ``--trace 1``).
Progress goes to stderr. The last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``:

- ``--trace 0``: the end-to-end metrics of BENCHMARK.json --
  ``setup_s``, the median of the three warm restarts (``get_spark`` and
  a first job; the cold start is not in it, see ``session.cold_start_s``);
  ``rows_per_cpu_s``, input rows of a pass over the CPU seconds the
  driver, its JVM and the JVM's Python workers spent on the calls of a
  pass, less the JIT compiler's; ``slowest_rows_per_cpu_s``, the same
  for the kind of call (chain, stream lane, query) that costs most per
  row. Each kind of call counts at its least costly pass. These are CPU
  figures, not wall-clock ones, because on a shared host the wall time
  of the same run varies by a third and more with what the neighbours
  do (steal, and JIT compile threads competing with the workload); CPU
  time varies far less. Wall-clock throughput and call latency are
  per-layer metrics (``calls.*``);
- ``--trace 1``: the per-layer metrics of BENCHMARK.json, medians over
  the traced passes. An extra untraced warm pass runs first, then
  traced and untraced passes alternate (``calls.*`` come from the
  untraced ones); the line before the last
  carries the layer-specific detail (per chain, stream lane or query;
  each kind's share of the typical pass time; JIT compiler CPU per
  pass) and the tracing
  overhead: traced minus untraced pass wall time, and the tracer's own
  time (``trace.overhead_ms``). The ``ops_chain`` detail adds one
  ``local[1]`` pass as the single-core baseline. Spans go to
  ``.perfbench/out/`` under the repo root.

Everything a run writes stays under ``.perfbench/`` at the repo root; its
scratch directory (inputs, Spark local dirs, checkpoints) is removed on
exit. Without the ``go_streams_spark`` package next to ``perfbench/``
the run exits with code 2 and prints no result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from dataclasses import asdict, dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RESTARTS = 3


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def cores() -> int:
    return len(os.sched_getaffinity(0))


class Run:
    """State of one benchmark run: session, tracer, counters of the
    current pass, and the check tally."""

    def __init__(self, args, workload):
        self.args, self.workload = args, workload
        self.seed, self.seconds = args.seed, args.seconds
        self.work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
        self.out = os.path.join(ROOT, ".perfbench", "out")
        self.spark = None
        self.status = None
        self.tracer = None
        self.attempted = self.failed = 0
        self.pid = os.getpid()
        self.detail: dict = {}
        self._ids = 0
        self.reset_pass()

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def next_id(self) -> int:
        self._ids += 1
        return self._ids

    def cpu_s(self) -> float:
        """CPU seconds the driver, its JVM and the Python workers have
        used so far, less those of the JIT compiler."""
        from probe import tree_cpu_s
        total, jit = tree_cpu_s(self.pid)
        return total - jit

    def reset_pass(self):
        self.api_build_s = self.calls_build_s = self.action_s = 0.0
        self.release_s = 0.0
        self.pins_released = 0

    # -- session -------------------------------------------------------
    def session_conf(self) -> dict:
        local = self.path("spark-local")
        return {
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": self.path("warehouse"),
            # compiler threads stay alive, so their CPU can be told apart
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={local} -XX:-UseDynamicNumberOfCompilerThreads",
            "spark.sql.streaming.numRecentProgressUpdates": "10000",
        }

    def start_session(self) -> None:
        from go_streams_spark.session import get_spark
        self.spark = get_spark("perfbench", self.session_conf())
        self.spark.range(1).count()

    def restart_session(self, cores: int | None = None) -> None:
        self.spark.stop()
        if cores is not None:
            os.environ["SPARK_GRAFT_CPUS"] = str(cores)
            os.environ["SPARK_GRAFT_MASTER"] = f"local[{cores}]"
        self.start_session()

    # -- call boundaries ----------------------------------------------
    def timed_action(self, fn):
        """Run a sink action as a timed span."""
        t0 = time.perf_counter()
        with self.tracer.span("sink.action"):
            out = fn()
        self.action_s += time.perf_counter() - t0
        return out

    def release(self):
        from go_streams_spark.plans import release_tracked
        t0 = time.perf_counter()
        with self.tracer.span("plans.release_tracked"):
            self.pins_released += release_tracked()
        self.release_s += time.perf_counter() - t0

    def record_check(self, what: str, ok: bool, why: str):
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"CHECK FAILED {what}: {why}", file=sys.stderr)


@dataclass
class Pass:
    traced: bool
    wall_s: float
    calls: list[tuple[str, float, int]]  # (kind, seconds, input rows)
    cpu: list[tuple[str, float, int]]  # (kind, CPU seconds, input rows)
    detail: dict
    jit_s: float = 0.0  # CPU seconds of the JIT compiler threads
    layer: dict = field(default_factory=dict)


@dataclass
class Kind:
    """The calls of one kind (chain, stream lane, query) over all passes.
    Each call counts at the median latency of its kind, so one slow call
    moves a figure built from these no more than it moves a median."""
    latencies: list[float] = field(default_factory=list)
    rows: int = 0

    @property
    def typical_s(self) -> float:
        return len(self.latencies) * statistics.median(self.latencies)


def kinds(passes: list[Pass]) -> dict[str, Kind]:
    out: dict[str, Kind] = {}
    for p in passes:
        for kind, s, rows in p.calls:
            k = out.setdefault(kind, Kind())
            k.latencies.append(s)
            k.rows += rows
    return out


def rows_per_s(passes: list[Pass]) -> float:
    """Input rows over the time of a typical pass."""
    ks = kinds(passes).values()
    return sum(k.rows for k in ks) / sum(k.typical_s for k in ks)


def slowest_rows_per_s(passes: list[Pass]) -> float:
    """Input rows per second of the kind of call that moves rows slowest."""
    return min(k.rows / k.typical_s for k in kinds(passes).values())


def call_ms_p50(passes: list[Pass]) -> float:
    ks = kinds(passes).values()
    return 1e3 * statistics.median(
        statistics.median(k.latencies) for k in ks for _ in k.latencies)


def cpu_kinds(passes: list[Pass]) -> dict[str, tuple[float, int]]:
    """Per kind of call: its CPU seconds in the pass where they were
    fewest, and its input rows in a pass (the same in every pass). Host
    contention and the JIT still compiling only ever add to a pass, so
    the least of a few passes is the steadiest reading of the cost."""
    per: dict[str, list[tuple[float, int]]] = {}
    for p in passes:
        sums: dict[str, list] = {}
        for kind, cpu_s, rows in p.cpu:
            acc = sums.setdefault(kind, [0.0, 0])
            acc[0] += cpu_s
            acc[1] += rows
        for kind, (cpu_s, rows) in sums.items():
            per.setdefault(kind, []).append((cpu_s, rows))
    return {kind: min(v, key=lambda cr: cr[0]) for kind, v in per.items()}


def rows_per_cpu_s(passes: list[Pass]) -> float:
    """Input rows of a pass over the CPU seconds of the least costly
    pass of each kind of call."""
    ks = cpu_kinds(passes).values()
    return sum(r for _, r in ks) / sum(c for c, _ in ks)


def slowest_rows_per_cpu_s(passes: list[Pass]) -> float:
    """Rows per CPU second of the kind of call that costs most per row."""
    return min(r / c for c, r in cpu_kinds(passes).values())


def run_workload(run: Run) -> dict:
    from probe import StatusStore, Tracer, peak_rss_mb, self_and_jvm_pids, tree_cpu_s
    wl, args = run.workload, run.args

    os.makedirs(run.path("spark-local"), exist_ok=True)
    phases = [("start", time.time())]
    wl.prepare(run)
    phases.append(("prepare", time.time()))

    run.tracer = Tracer(False)
    t0 = time.time()
    run.start_session()
    cold = (t0, time.time())
    restarts = []
    for _ in range(RESTARTS):
        t0 = time.time()
        run.restart_session()
        restarts.append((t0, time.time()))
    if args.trace:
        run.status = StatusStore(run.spark)
        run.tracer.enabled = True
        run.tracer.add("session.cold_start", *cold, None)
        for t0, t1 in restarts:
            run.tracer.add("session.start", t0, t1, None)

    phases.append(("setup", time.time()))
    run.tracer.enabled, run.tracer.status = bool(args.trace), run.status
    run.tracer.trace = "warm"
    wl.warm(run)
    run.release()
    phases.append(("warm", time.time()))
    warm_s = phases[-1][1] - phases[-2][1]
    if args.trace:
        # the first traced pass must not carry warm-up the untraced
        # passes it is compared with have already paid
        run.tracer.enabled = False
        wl.run_pass(run)
        run.release()

    passes: list[Pass] = []
    timed = max(1, round(run.seconds / wl.pass_s))
    for _ in range(max(timed, 2) if args.trace else timed):
        traced = bool(args.trace) and len(passes) % 2 == 0
        run.tracer.enabled = traced
        run.tracer.trace = f"pass-{len(passes)}"
        overhead0 = run.tracer.overhead_s
        run.reset_pass()
        mark = run.status.mark() if traced else None
        jit0 = tree_cpu_s(run.pid)[1]
        p0 = time.perf_counter()
        calls, cpu, detail = wl.run_pass(run)
        run.release()
        p = Pass(traced, time.perf_counter() - p0, calls, cpu, detail,
                 jit_s=tree_cpu_s(run.pid)[1] - jit0)
        if traced:
            p.layer = {f"spark.{k}": v for k, v in run.status.since(mark).items()}
            p.layer.update({
                "api.build_ms": run.api_build_s * 1e3,
                "calls.build_ms": (run.api_build_s + run.calls_build_s) * 1e3,
                "calls.action_s": run.action_s,
                # Drizzle's split: pass time with no Spark job running is
                # driver-side scheduling, planning and coordination
                "calls.driver_ms": p.wall_s * 1e3 - p.layer["spark.job_ms"],
                "plans.release_ms": run.release_s * 1e3,
                "plans.pins_released": run.pins_released,
                "trace.overhead_ms": (run.tracer.overhead_s - overhead0) * 1e3,
            })
        passes.append(p)
        print(f"perfbench: pass {len(passes) - 1} " + " ".join(
            f"{kind}={s:.3f}" for kind, s, _ in calls) + " cpu " + " ".join(
            f"{kind}={c:.2f}" for kind, c, _ in cpu) + f" jit={p.jit_s:.2f}", file=sys.stderr)

    phases.append(("timed", time.time()))
    print("perfbench: " + " ".join(f"{name} {t - prev:.1f}s" for (_, prev), (name, t)
                                   in zip(phases, phases[1:])), file=sys.stderr)
    rss = peak_rss_mb(self_and_jvm_pids(run.spark))

    setup_s = statistics.median(t1 - t0 for t0, t1 in restarts)
    if not args.trace:
        metrics = {
            "setup_s": (setup_s, "s"),
            "rows_per_cpu_s": (rows_per_cpu_s(passes), "1/cpu_s"),
            "slowest_rows_per_cpu_s": (slowest_rows_per_cpu_s(passes), "1/cpu_s"),
        }
        return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}

    traced = [p for p in passes if p.traced]
    untraced = [p for p in passes if not p.traced]
    layer = {k: statistics.median(p.layer[k] for p in traced) for k in traced[0].layer}
    layer["calls.rows_per_s"] = rows_per_s(untraced)
    layer["calls.slowest_rows_per_s"] = slowest_rows_per_s(untraced)
    layer["calls.latency_ms_p50"] = call_ms_p50(untraced)
    layer["session.start_s"] = setup_s
    layer["session.cold_start_s"] = cold[1] - cold[0]
    layer["session.warmup_s"] = warm_s
    layer["process.peak_rss_mb"] = rss
    detail = {k: statistics.median(p.detail[k] for p in traced) for k in traced[0].detail}
    detail["process.jit_cpu_s"] = statistics.median(p.jit_s for p in passes)
    detail["passes.traced"] = len(traced)
    detail["passes.untraced"] = len(untraced)
    detail["cores"] = cores()
    ks = kinds(passes)
    pass_s = sum(k.typical_s for k in ks.values())
    for name, k in ks.items():
        detail[f"calls.{name}.time_share"] = k.typical_s / pass_s
    detail["trace.overhead_wall_ms"] = 1e3 * (
        statistics.median(p.wall_s for p in traced)
        - statistics.median(p.wall_s for p in untraced))
    if hasattr(wl, "baseline_one_core"):
        run.tracer.enabled = False
        detail.update(wl.baseline_one_core(run))
    run.detail = detail
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        units = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
    return {k: {"value": layer[k], "unit": units[k]} for k in units}


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    # Python workers import the package by name; give them the repo root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    # the session's knobs are fixed here, not inherited from the caller
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    for name in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_NO_MASTER"):
        os.environ.pop(name, None)
    try:
        import go_streams_spark  # noqa: F401
        from workloads import WORKLOADS
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"known: {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    run = Run(args, WORKLOADS[args.workload]())
    os.makedirs(run.work, exist_ok=True)
    os.environ["TMPDIR"] = run.path("spark-local")
    try:
        metrics = run_workload(run)
    finally:
        if run.spark is not None:
            run.spark.stop()
            _stop_jvm(run.spark)
        shutil.rmtree(run.work, ignore_errors=True)
    if args.trace:
        os.makedirs(run.out, exist_ok=True)
        name = os.path.join(run.out, f"{args.workload}-seed{args.seed}.json")
        with open(name, "w") as f:
            json.dump({"detail": run.detail,
                       "spans": [asdict(s) for s in run.tracer.spans]}, f)
        print(json.dumps({"detail": run.detail}))
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


def _stop_jvm(spark) -> None:
    """Shut the py4j gateway and wait for the JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


if __name__ == "__main__":
    sys.exit(main())
