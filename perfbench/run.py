"""Benchmark harness for valar_spark: one seeded workload per invocation.

Usage (from the repository root)::

    python3 perfbench/run.py --workload validate_batch --seed 1 \
        --seconds 10 --trace 0 [--smoke]

The load is a closed loop: this one driver process makes sequential calls
into the package's public functions on ``local[<cores>]`` with shuffle
partitions = cores, and times each call from outside.

1. The JVM is launched (``session.start_s``), then the inputs are built
   from ``--seed`` and stored as parquet under ``.perfbench/data``, keyed
   by workload, seed and size; a later run with the same key reuses them.
   None of this is timed.
2. Set-up is timed ``SETUPS`` times: a fresh session and opening the
   inputs. ``setup_s`` is the median.
3. Passes run until ``--seconds`` have been spent measuring (at least
   one). The first pass is the first in the JVM, so it pays JIT and
   code-generation warm-up, as a one-shot job does. Every pass's outputs
   are checked; a wrong or failed call counts in ``failed``.
   ``rows_per_cpu_s`` is the rows of every pass over the CPU
   seconds the host spent busy during them: on a shared virtual machine
   the hypervisor steals CPU in bursts that can double a pass's wall
   time, and stolen time is not busy time.
4. The last stdout line is one JSON object: with ``--trace 0`` the
   end-to-end metrics, with ``--trace 1`` the per-layer metrics. The line
   before it holds the workload's own figures: ``failed_ops_frac``, the
   wall-clock ``rows_per_s`` with the ``host_steal_s`` that inflated it,
   ``peak_rss_mb`` of the Python driver plus the JVM, and ``resume_s``
   and ``incremental_s`` where the runner runs. In a traced run every
   pass is traced: per-layer metrics are medians over its passes, and
   ``trace.overhead_frac`` is the time spent in tracing bookkeeping over
   the time spent in the calls. Spans, per-pass walls and the
   single-thread CPU probe taken around each pass go to
   ``.perfbench/artifacts/<workload>-seed<seed>-trace<t>.json``.

``--smoke`` runs the same code on inputs of a few thousand rows.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
#: this run's scratch (Spark local dirs, temp files, runner work dirs),
#: removed when the run ends
SCRATCH = os.path.join(STATE, f"run-{os.getpid()}")
DEADLINE_S = 90  # no pass starts later than this after the run began
DRIVER_MEM = "2g"
SETUPS = 3

END_TO_END = {"rows_per_cpu_s": "rows/cpu-s", "setup_s": "s"}


def _host_hygiene() -> None:
    """Environment every Spark process of the run inherits: Python workers
    import the package from the repository root, the heap fits a small
    host, and scratch files stay inside the checkout."""
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["VALAR_DRIVER_MEM"] = DRIVER_MEM
    tmp = os.path.join(SCRATCH, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # the launcher lets this variable override spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(SCRATCH, "spark-local")
    sys.path.insert(0, ROOT)


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session():
    from valar_spark.session import get_spark

    cores = _cores()
    tmp = os.path.join(SCRATCH, "tmp")
    return get_spark(
        app_name="perfbench", master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(SCRATCH, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        })


def shutdown_jvm() -> None:
    """Stop the session, then the gateway JVM this process launched, and
    wait for it to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway server exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


_PROBE = {}


def throttle_probe() -> float:
    """Seconds for a fixed single-thread numpy job (one pass over 32 MB).
    Its spread across a run shows a throttled or contended window."""
    import numpy as np

    x = _PROBE.get("x")
    if x is None:
        x = _PROBE["x"] = np.arange(4_000_000, dtype=np.float64)
    t0 = time.perf_counter()
    _PROBE["sink"] = float(np.sqrt(x * 1.0000001).sum())
    return time.perf_counter() - t0


def host_cpu_s() -> tuple[float, float]:
    """Seconds of CPU the host spent busy (user, nice, system, irq,
    softirq) and stolen by the hypervisor, summed over its CPUs, since
    boot."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    hz = os.sysconf("SC_CLK_TCK")
    return (v[0] + v[1] + v[2] + v[5] + v[6]) / hz, v[7] / hz


def _peak_rss_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident memory so far of this Python driver plus its JVM, in
    MB."""
    jvm_pid = int(spark._jvm.ProcessHandle.current().pid())
    return (_peak_rss_kb(os.getpid()) + _peak_rss_kb(jvm_pid)) / 1024.0


def per_layer_names(workloads) -> dict[str, str]:
    """Every per-layer metric the harness reports, with its unit."""
    from perfbench.trace import STAGE_METRICS

    names = {"rules.compile.wall_s": "s"}
    for w in workloads.values():
        for call in w.calls:
            for m, unit in STAGE_METRICS.items():
                names[f"{call}.{m}"] = unit
    names.update({
        "runner.incremental_processed_over_changed": "ratio",
        "runner.sink_bytes": "bytes",
        "runner.state_files": "count",
        "runner.buckets_redone": "count",
        "drift.ks_binned.edges": "count",
        "entry.cached_bytes_after": "bytes",
        "session.start_s": "s",
        "trace.overhead_frac": "ratio",
    })
    return names


class Run:
    """One invocation: set-up, measured passes, and what they recorded."""

    def __init__(self, wl, traced_run: bool) -> None:
        from perfbench.trace import Recorder

        self.wl = wl
        self.traced_run = traced_run
        self.rec = Recorder(None, traced=False)
        self.spark = None
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self.session_starts: list[float] = []
        self.rss: list[float] = []
        self.passes: list[dict] = []
        self.opens: list[float] = []
        self.prepare_s = 0.0

    def fresh_session(self, open_inputs: bool = True) -> None:
        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = start_session()
        self.session_starts.append(time.perf_counter() - t0)
        self.rec.spark = self.spark
        if open_inputs:
            self.wl.open(self.spark)

    def fresh_session_s(self) -> float:
        t0 = time.perf_counter()
        self.fresh_session()
        return time.perf_counter() - t0

    def one_pass(self, pass_id: int, traced: bool) -> float:
        """Run and check one pass; returns its wall time."""
        wl = self.wl
        self.rec.begin_pass(pass_id, traced)
        n_calls = len(wl.calls)
        self.attempted += n_calls
        cpu0 = host_cpu_s()
        t0 = time.perf_counter()
        try:
            out = wl.run_pass(self.rec)
        except Exception:
            out = None
            self.failed += n_calls
            self.failures.append(f"pass {pass_id}: "
                                 + traceback.format_exc(limit=3))
        t1 = time.perf_counter()
        cpu1 = host_cpu_s()
        self.pass_cpu = (cpu1[0] - cpu0[0], cpu1[1] - cpu0[1])
        self.rec.end_pass(t0, t1)
        try:
            bad = [] if out is None else wl.check(out)
        except Exception:
            bad = ["check"]
            self.failures.append(f"pass {pass_id} check: "
                                 + traceback.format_exc(limit=3))
        finally:
            wl.cleanup()
        self.failed += min(len(bad), n_calls)
        if bad:
            self.failures.append(f"pass {pass_id}: wrong output {bad}")
        return t1 - t0

    def setup(self) -> None:
        """A fresh session and opening the inputs, ``SETUPS`` times. The
        passes run in the last session."""
        self.opens = [self.fresh_session_s() for _ in range(SETUPS)]
        self.rss.append(peak_rss_mb(self.spark))

    def measure(self, seconds: float, t_start: float) -> None:
        wl = self.wl
        t_measure = time.perf_counter()
        pass_id = 0
        while True:
            spent = time.perf_counter() - t_measure
            late = time.perf_counter() - t_start > DEADLINE_S
            if pass_id >= 1 and (spent >= seconds or late):
                break
            traced = self.traced_run
            if wl.fresh_session_per_pass:
                self.fresh_session()
            probe_before = throttle_probe()
            wall = self.one_pass(pass_id, traced)
            probe_after = throttle_probe()
            self.rss.append(peak_rss_mb(self.spark))
            self.passes.append({
                "pass": pass_id, "traced": traced, "wall_s": wall,
                "calls": {k: v["wall_s"]
                          for k, v in self.rec.per_pass[pass_id].items()},
                "probe_before_s": probe_before, "probe_after_s": probe_after,
                "host_busy_s": self.pass_cpu[0],
                "host_steal_s": self.pass_cpu[1],
                "counters": dict(wl.counters)})
            pass_id += 1

    def of_passes(self, key: str) -> list[float]:
        return [p[key] for p in self.passes]

    def end_to_end(self) -> dict:
        busy = self.of_passes("host_busy_s")
        values = {
            "rows_per_cpu_s": self.wl.rows * len(busy) / sum(busy),
            "setup_s": statistics.median(self.opens),
        }
        return {k: {"value": v, "unit": END_TO_END[k]}
                for k, v in values.items()}

    def workload_figures(self) -> dict:
        """The workload's own figures beside the gated metrics: the share
        of failed or wrong calls, and where the runner runs the median
        resume and incremental walls of the passes."""
        walls = self.of_passes("wall_s")
        figures = {
            "failed_ops_frac": (self.failed / max(self.attempted, 1),
                                "ratio"),
            "rows_per_s": (self.wl.rows * len(walls) / sum(walls), "rows/s"),
            "host_steal_s": (sum(self.of_passes("host_steal_s")), "s"),
            "peak_rss_mb": (max(self.rss), "MB"),
        }
        for name, call in (("resume_s", "runner.run_checkpointed.resume"),
                           ("incremental_s", "runner.run_incremental")):
            if call in self.wl.calls:
                figures[name] = (statistics.median(
                    p["calls"][call] for p in self.passes), "s")
        return {k: {"value": v, "unit": u} for k, (v, u) in figures.items()}

    def per_layer(self, workloads) -> dict:
        traced = [p for p in self.passes if p["traced"]]
        metrics = {}
        for name, unit in per_layer_names(workloads).items():
            call, metric = name.rsplit(".", 1)
            vals = [p["counters"][name] for p in traced
                    if name in p["counters"]]
            if not vals:
                vals = [self.rec.per_pass[p["pass"]].get(call, {})
                        .get(metric, 0.0) for p in traced]
            metrics[name] = {"value": statistics.median(vals), "unit": unit}
        # the JVM launch; fresh sessions in a live JVM are in the artifact
        metrics["session.start_s"]["value"] = self.session_starts[0]
        metrics["trace.overhead_frac"]["value"] = statistics.median(
            self.rec.trace_s[p["pass"]]
            / (p["wall_s"] - self.rec.trace_s[p["pass"]]) for p in traced)
        return metrics


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="inputs of a few thousand rows")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "valar_spark", "__init__.py")):
        print(f"valar_spark package not found under {ROOT}", file=sys.stderr)
        return 2
    _host_hygiene()
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    cls = WORKLOADS[args.workload]
    wl = cls(STATE, SCRATCH, args.seed,
             cls.smoke_size if args.smoke else cls.size)
    t_start = time.perf_counter()
    run = Run(wl, traced_run=bool(args.trace))
    try:
        run.fresh_session(open_inputs=False)  # launches the JVM
        t0 = time.perf_counter()
        wl.prepare(run.spark)
        run.prepare_s = time.perf_counter() - t0
        throttle_probe()  # first call pays page faults, not recorded
        run.setup()
        run.measure(args.seconds, t_start)
    finally:
        shutdown_jvm()
        shutil.rmtree(SCRATCH, ignore_errors=True)

    metrics = run.per_layer(WORKLOADS) if args.trace else run.end_to_end()
    probes = [p[k] for p in run.passes
              for k in ("probe_before_s", "probe_after_s")]
    artifact = {
        "workload": args.workload, "seed": args.seed, "size": wl.size,
        "seconds": args.seconds, "trace": args.trace, "smoke": args.smoke,
        "cores": _cores(), "rows_per_pass": wl.rows,
        "prepare_s": run.prepare_s, "setup_s": run.opens,
        "session_start_s": run.session_starts, "passes": run.passes,
        "rss_mb": run.rss,
        "probe_spread": max(probes) / max(min(probes), 1e-9),
        "failures": run.failures, "metrics": metrics,
        "figures": run.workload_figures(),
        "spans": run.rec.spans_json(),
    }
    os.makedirs(os.path.join(STATE, "artifacts"), exist_ok=True)
    art = os.path.join(STATE, "artifacts",
                       f"{args.workload}-seed{args.seed}-trace{args.trace}"
                       f"{'-smoke' if args.smoke else ''}.json")
    with open(art, "w") as f:
        json.dump(artifact, f, indent=1)
    for msg in run.failures:
        print(msg, file=sys.stderr)
    print(json.dumps({"workload": args.workload,
                      "figures": artifact["figures"]}))
    print(json.dumps({"correct": run.failed == 0 and not run.failures,
                      "attempted": run.attempted, "failed": run.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
