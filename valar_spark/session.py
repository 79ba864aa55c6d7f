"""SparkSession factory with the engine's scale-oriented defaults.

AQE + skew-join handling are on per BASELINE.json:14; Arrow is on for the
vectorized-UDF path; shuffle partitions default to the core count rather
than 200 (local mode).

Python UDF workers start warm. On a ``local[...]`` master whose workers
can import the package (see :func:`python_daemon_module`), the session's
``spark.python.daemon.module`` is ``valar_spark.worker_daemon``: Spark's
daemon, which first imports numpy, pandas, pyarrow and
``valar_spark.textops`` so that every forked worker inherits them, and
guards zipimport so that the ``importlib.invalidate_caches()`` each task
starts with re-reads ``pyspark.zip``'s directory only when the archive
changed (0.15-0.22 s of CPU per task in a worker otherwise, 16 cached
importers). Python-worker CPU of one perfbench ``curate_docs`` pass (seed
1, 4 vCPUs, utime+stime of the daemon and its workers from ``/proc``):
8.3-9.4 s on Spark's daemon, 8.0 s with the imports alone, 4.0-4.4 s
with the guard alone, 2.9-3.2 s with both. Elsewhere the session keeps
Spark's ``pyspark.daemon``.

C2 compiles only hot code. A ``local[...]`` driver JVM starts with
HotSpot's tier-4 (C2) compile thresholds at 10x the JDK 17 defaults
(:func:`driver_jit_options`, through ``spark.driver.defaultJavaOptions``,
which Spark puts ahead of ``spark.driver.extraJavaOptions``). A short job
runs Spark's planner, Janino, ASM, Java serialization and most generated
classes only a few thousand times, and at the default thresholds C2 spent
more CPU compiling them than the job spent in its tasks. C1 (tiers 1-3)
is cheap to compile and fast enough for that code, so its thresholds stay;
per-row loops reach the raised C2 thresholds within milliseconds, so large
runs still get C2 code. Stopping at C1 (``TieredStopAtLevel=1``) was
rejected: it cut the 2M-turn flagship's throughput by 30-40%. One
perfbench ``validate_batch`` pass (seed 1, 4 vCPUs, per-thread CPU from
``/proc``, 3 passes each): C2 compiler threads 32-37 s -> 12-15 s,
executor tasks 9.4-10.1 s -> 10.5-11.5 s, host-busy CPU 65-73 s ->
50-56 s; JFR counted 3906 -> 1790 tier-4 compiles over the run's JVM.
Over 10 interleaved pairs (seed 1), ``rows_per_cpu_s`` went 151.6 ->
203.2 on ``validate_batch`` and 13.5 -> 15.5 on ``curate_docs`` (10/10
wins each); the 2M-turn flagship's median went 332k -> 348k turns/s over
5 pairs (3 wins, all on a throttling host).

PySpark's per-call origin capture is off
(``spark.python.sql.dataFrameDebugging.enabled=false``; ``extra_conf``
can turn it back on). With it on, every ``functions`` and ``Column`` call
walks the Python stack, tries ``import IPython`` and makes several extra
py4j round trips to record its call site: on a 4-vCPU VM ``F.col("x")``
took 1.45-1.78 ms instead of 0.48-0.52 ms, and the calls of one perfbench
``validate_batch`` pass (seed 1) made 25.6k-25.8k instead of 12.8k round
trips. Errors keep their class,
condition and message; only the call site in a DataFrame error's query
context names a JVM frame instead of the Python ``file:line``."""

from __future__ import annotations

import os
import site
from collections.abc import Sequence

from pyspark.sql import SparkSession

#: the directory that holds the ``valar_spark`` package
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WARM_DAEMON = "valar_spark.worker_daemon"
SPARK_DAEMON = "pyspark.daemon"


def python_daemon_module(master: str, package_parent: str, cwd: str,
                         pythonpath: str, site_dirs: Sequence[str]) -> str:
    """The Python worker daemon a session should start: the package's warm
    daemon when the master is ``local[...]`` and ``package_parent`` is on
    the path workers start with (their working directory ``cwd``, which
    ``python -m`` puts first, a ``pythonpath`` entry, or one of
    ``site_dirs``); Spark's own daemon otherwise. Relative ``pythonpath``
    entries resolve against ``cwd``, as they do in the worker. A package
    shipped as a ``--py-files`` zip is not on that path, so it keeps the
    default."""
    if not master.startswith("local["):
        return SPARK_DAEMON
    entries = [cwd, *pythonpath.split(os.pathsep), *site_dirs]
    on_path = {os.path.normpath(os.path.join(cwd, p)) for p in entries if p}
    if os.path.normpath(package_parent) in on_path:
        return WARM_DAEMON
    return SPARK_DAEMON


def driver_jit_options(master: str) -> str | None:
    """The JVM options a ``local[...]`` driver starts with: HotSpot's
    tier-4 (C2) compile thresholds at 10x the JDK 17 defaults, so only
    code hot enough for C2 to pay off gets it (see the module docstring).
    ``None`` for any other master, whose driver options belong to its
    deployment."""
    if master != "local" and not master.startswith("local["):
        return None
    return ("-XX:Tier4InvocationThreshold=50000"
            " -XX:Tier4MinInvocationThreshold=6000"
            " -XX:Tier4CompileThreshold=150000"
            " -XX:Tier4BackEdgeThreshold=400000")


def _worker_launch_path() -> tuple[str, str]:
    """The working directory and ``PYTHONPATH`` local Python workers start
    with: those of the live gateway JVM, or this process's, which a JVM
    launched next inherits."""
    from pyspark import SparkContext

    jvm = SparkContext._jvm
    if jvm is None:
        return os.getcwd(), os.environ.get("PYTHONPATH", "")
    return (jvm.System.getProperty("user.dir"),
            jvm.System.getenv("PYTHONPATH") or "")


def _site_dirs() -> list[str]:
    dirs = list(site.getsitepackages())
    if site.ENABLE_USER_SITE:
        dirs.append(site.getusersitepackages())
    return dirs


def get_spark(
    app_name: str = "valar_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("VALAR_SPARK_MASTER", "local[*]")
    cores = os.cpu_count() or 8
    if shuffle_partitions is None:
        if master.startswith("local[") and master[6:-1].isdigit():
            shuffle_partitions = int(master[6:-1])
        else:
            shuffle_partitions = cores
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # Whole-stage codegen ON, but with hugeMethodLimit lowered to
        # HotSpot's JIT huge-method limit (8000 bytecode): a fused method
        # larger than that silently runs as INTERPRETED bytecode (measured:
        # 26-36s vs 8s for a 10-leaf rule set over 20M rows), so Spark
        # should fall back to per-expression codegen exactly at the point
        # HotSpot would stop JIT-compiling. This scopes the round-1
        # session-wide codegen=off (which de-optimized every join/agg in
        # the session, ~2x on the dedup/ANN suite) to just the wide rule
        # projections that genuinely overflow the JIT.
        .config("spark.sql.codegen.wholeStage", "true")
        .config("spark.sql.codegen.hugeMethodLimit", "8000")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("VALAR_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    daemon = python_daemon_module(master, _PACKAGE_PARENT,
                                  *_worker_launch_path(), _site_dirs())
    if daemon == WARM_DAEMON:
        b = b.config("spark.python.daemon.module", daemon)
    # defaultJavaOptions go ahead of extraJavaOptions on the driver's
    # command line, so a caller's extra options still apply
    jit = driver_jit_options(master)
    if jit is not None:
        b = b.config("spark.driver.defaultJavaOptions", jit)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
