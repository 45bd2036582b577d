"""SparkSession construction for the feathr_spark engine.

Local-mode defaults mirror what a 1000-executor deployment would set
cluster-wide: AQE on (runtime skew-join splitting + partition
coalescing), Arrow enabled for the pandas-kernel operators, UTC session
timezone (oracle comparisons are TZ-naive), and shuffle parallelism
sized to the actual core count rather than the 200 default.

Reference analogue: the reference clamps join parallelism to
[10, 10000] (feathr-impl/.../offline/job/FeatureJoinJob.scala:57-65);
we let AQE coalesce instead and expose the knob.

Imported inside a PySpark worker (the engine's UDFs unpickle through
the package), this module also makes the worker's per-task
``importlib.invalidate_caches()`` cheap: on CPython < 3.13 that call
re-reads the whole directory of every zip on ``sys.path`` (pyspark.zip:
1328 entries, 16 importers, ~0.1 s of CPU per task), and
``install_zip_directory_cache`` re-reads an archive only when its
``(st_mtime_ns, st_size)`` changed. The driver is left alone.
"""

from __future__ import annotations

import os
import sys

from pyspark import TaskContext
from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# generated-code cache size: ~8x the ~130 distinct classes one client
# join plus backfill generates (PLANS.md §21)
CODEGEN_CACHE_ENTRIES = 1000


def _local_dir() -> str:
    """Shuffle/spill scratch directory.

    Prefer tmpfs (/dev/shm): this sandbox's root fs is ext4 mounted with
    ``discard``, so every shuffle-file delete issues a synchronous TRIM —
    measured at up to 80% of ALL cpu burned in kernel (sys) time during
    shuffle-heavy stages, destroying scaling (33.6s -> 12.2s on the
    flagship job just from this switch). On a real cluster the analogue
    is putting ``spark.local.dir`` on fast local NVMe, never on
    network / thin-provisioned volumes with synchronous discard.
    """
    env = os.environ.get("FEATHR_SPARK_LOCAL_DIR")
    if env:
        return env
    if os.path.isdir("/dev/shm"):
        d = "/dev/shm/feathr-spark-local"
        try:
            os.makedirs(d, exist_ok=True)
            _sweep_stale(d)
            # tmpfs spills compete with the JVM heap for physical RAM: a
            # killed JVM's leftover shuffle files once ate 50 GB here and
            # OOM'd the next run. Only take the tmpfs fast path when it
            # has real headroom; otherwise degrade to disk.
            st = os.statvfs(d)
            free_gb = st.f_bavail * st.f_frsize / 2**30
            if free_gb >= 16:
                return d
        except OSError:  # pragma: no cover - tmpfs unavailable
            pass
    return "/tmp"


def _sweep_stale(d: str, max_age_s: int = 7200) -> None:
    """Remove shuffle scratch left by crashed/killed JVMs (a graceful
    spark.stop() cleans up; SIGKILL does not). Only entries untouched
    for ``max_age_s`` are removed, so concurrent live sessions are safe."""
    import shutil
    import time

    now = time.time()
    try:
        for name in os.listdir(d):
            p = os.path.join(d, name)
            try:
                if now - os.path.getmtime(p) > max_age_s:
                    shutil.rmtree(p, ignore_errors=True)
            except OSError:
                continue
    except OSError:  # pragma: no cover
        pass


def _driver_mem(meminfo: str = "/proc/meminfo") -> str:
    """Driver heap size: ``FEATHR_SPARK_DRIVER_MEM`` if set, else a
    quarter of the host's MemTotal (at most 48g). The rest of physical
    RAM is left to JVM off-heap memory, the Python workers and tmpfs
    shuffle files: a heap sized past the host lets one long session grow
    until the kernel OOM-kills the JVM (no swap)."""
    env = os.environ.get("FEATHR_SPARK_DRIVER_MEM")
    if env:
        return env
    try:
        with open(meminfo) as fh:
            total_kb = next(int(line.split()[1]) for line in fh
                            if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):  # pragma: no cover - non-Linux
        return "4g"
    return f"{min(48 * 1024, total_kb // 4096)}m"


def _jvm_opts() -> str:
    """Executor/driver JVM options.

    ``FEATHR_SPARK_PRETOUCH=1`` (the bench harnesses set it) adds
    ``-Xms<max> -XX:+AlwaysPreTouch``: commit and fault the whole heap at
    JVM start so steady-state iterations never re-fault heap pages. In
    this sandbox (a Firecracker guest) first-touching a page costs
    ~0.8 s/GB serialized through the host's fault handler, and G1
    uncommits idle regions between jobs — without pre-touch that toll
    recurs mid-benchmark as a serial, core-count-independent stall (the
    "sys storm"). On a real cluster the same flags are the standard
    recommendation for latency-stable executors. Off by default: tests
    and ad-hoc sessions should not pay ~40 s of startup pre-faulting.
    """
    if os.environ.get("FEATHR_SPARK_PRETOUCH", "") not in ("", "0"):
        return f"-Xms{_driver_mem()} -XX:+AlwaysPreTouch"
    return ""


def get_spark(
    cpus: int | None = None,
    app_name: str = "feathr_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a local SparkSession tuned for this engine.

    ``cpus`` controls ``local[N]`` parallelism — the bench harness runs
    the same job at two values (8 and 32) to evidence scaling
    efficiency, so this must actually change executor-thread count.

    Under ``spark-submit --master yarn/k8s`` the cluster master is
    already configured; it is NOT overridden unless the caller passes
    ``cpus`` explicitly (a local-bench intent). Without that guard the
    advertised --py-files deployment would silently run local-mode on
    the driver.

    ``spark.sql.codegen.cache.maxEntries`` defaults to 1000 here (Spark:
    100). One client join plus a backfill generates ~130 distinct
    classes, so a 100-entry LRU evicts each class before its next use
    and every repeat of the same query recompiles it in Janino. The
    cache is JVM-wide and built once, at the JVM's first code
    generation: the value that counts is the one in effect when the
    first session in the JVM is created. ``getOrCreate`` hands back an
    existing session and never applies it (``extra_conf`` can still
    override it for a first session).
    """
    explicit_cpus = cpus is not None
    cpus = cpus or DEFAULT_CPUS
    # FEATHR_SPARK_MASTER overrides everything: the scaling harness uses
    # it to run the identical job under local-cluster[N,c,mem] — real
    # separate executor JVMs, the closest single-box stand-in for the
    # north rule's "N -> 4N executors" criterion (per-executor heap, GC,
    # and Python-worker pool stay constant; only executor count varies).
    master_env = os.environ.get("FEATHR_SPARK_MASTER")
    # Shuffle partitions are sized to the DATA (4x the max core count),
    # NOT to this session's core count: on a real cluster the partition
    # count stays fixed while executors are added (the N -> 4N scaling
    # protocol), and a count that shrinks with cores makes the straggler
    # (hot-key) partition a larger fraction of the job at low N.
    shuffle_partitions = shuffle_partitions or max(DEFAULT_CPUS * 4, cpus * 4, 16)
    from pyspark import SparkConf
    preconfigured_master = (
        SparkConf().contains("spark.master") or bool(os.environ.get("SPARK_MASTER"))
    )
    builder = SparkSession.builder.appName(app_name)
    if master_env:
        builder = builder.master(master_env)
        exec_mem = os.environ.get("FEATHR_SPARK_EXECUTOR_MEM")
        if exec_mem:
            builder = builder.config("spark.executor.memory", exec_mem)
            if os.environ.get("FEATHR_SPARK_PRETOUCH", "") not in ("", "0"):
                builder = builder.config(
                    "spark.executor.extraJavaOptions",
                    f"-Xms{exec_mem} -XX:+AlwaysPreTouch")
    elif explicit_cpus or not preconfigured_master:
        builder = builder.master(f"local[{cpus}]")
    builder = (
        builder
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.local.dir", _local_dir())
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        .config("spark.driver.memory", _driver_mem())
        .config("spark.driver.extraJavaOptions", _jvm_opts())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # runtime bloom-filter join: Spark-native replacement for the
        # reference's explicit bloom-filter semi-join reduction
        # (offline/join/OptimizerUtils.scala:117-161)
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # allow joins on (key, ts) to reuse an existing hash-partitioning
        # on key alone (subset co-partitioning): a corpus stored
        # entity-hash-partitioned then joins by (entity, ts) WITHOUT
        # re-shuffling the wide payload — the prune as-of strategy's
        # zero-payload-exchange plan depends on this
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def codegen_counters(spark: SparkSession) -> tuple[int, int]:
    """Classes the driver JVM has compiled from generated code so far,
    and the nanoseconds that took (Spark's ``CodegenMetrics`` and
    ``CodeGenerator.compileTime``; JVM-wide, so every session and thread
    counts). Reads two counters; runs no Spark job."""
    jvm = spark.sparkContext._jvm
    return (jvm.org.apache.spark.metrics.source.CodegenMetrics
            .METRIC_COMPILATION_TIME().getCount(),
            jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
            .compileTime())


def codegen_since(spark: SparkSession, start: tuple[int, int]) -> dict:
    """``{"compiles", "compile_s"}`` since ``start = codegen_counters(spark)``."""
    n, ns = codegen_counters(spark)
    return {"compiles": n - start[0], "compile_s": round((ns - start[1]) / 1e9, 3)}


def install_zip_directory_cache() -> bool:
    """Inside a PySpark worker on CPython < 3.13, patch
    ``zipimporter.invalidate_caches`` to re-read an archive's directory
    only when the archive's ``(st_mtime_ns, st_size)`` changed since the
    last read; otherwise the importer takes the cached
    ``zipimport._zip_directory_cache[archive]``. A missing archive gets
    the stock behaviour (its cached directory is dropped).

    Spark's worker calls ``importlib.invalidate_caches()`` at the start of
    every task so that files added by ``addPyFile`` import; CPython
    3.10-3.12 answer with a full re-read of every zip on ``sys.path``
    (3.13 made it lazy). Runs when this module is imported; returns
    whether it installed the patch: not on the driver (no
    ``TaskContext``), not on 3.13+, and not twice.
    """
    import zipimport

    stock = zipimport.zipimporter.invalidate_caches
    if (sys.version_info >= (3, 13) or TaskContext.get() is None
            or stock.__module__ == __name__):
        return False
    read_at: dict = {}  # archive -> (st_mtime_ns, st_size) at its last read

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            return stock(self)
        stamp = (st.st_mtime_ns, st.st_size)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and read_at.get(self.archive) == stamp:
            self._files = files
        else:
            stock(self)
            read_at[self.archive] = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True


install_zip_directory_cache()


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()


# ---------------------------------------------------------------------------
# cache registry
#
# Some operators return a DataFrame that is LAZY over an internally
# persisted intermediate (the prune as-of's slim match table, dedup's
# fixpoint labels): the operator cannot unpersist before the caller
# materializes the result, so without bookkeeping those obs-scale caches
# accumulate across a long session / multi-stage plan until executor
# storage evicts them unpredictably. Operators register such persists
# with track_cache(); a pipeline calls release_caches() once it has
# materialized (written/collected) the outputs of a stage. Weak refs are
# NOT needed — unpersist on an already-GC'd frame is a no-op via the
# guarded loop below.
# ---------------------------------------------------------------------------

_TRACKED_CACHES: list = []


def track_cache(df):
    """Register an internally persisted DataFrame for later release."""
    _TRACKED_CACHES.append(df)
    return df


def release_caches() -> int:
    """Unpersist every operator-internal cache registered since the last
    call. Call after materializing a pipeline stage's outputs; returns
    the number of caches released. Safe to call anytime — released
    frames recompute from lineage if re-used."""
    n = 0
    while _TRACKED_CACHES:
        df = _TRACKED_CACHES.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:  # session already stopped — nothing to free
            pass
    return n
