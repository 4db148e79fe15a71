"""SparkSession factory with scale-aware defaults.

Local-mode knobs are sized from the host: cores from the CPU affinity
mask (override: ``SPARK_GRAFT_CPUS``), the driver heap from the cgroup
memory limit or physical RAM (override: ``SPARK_DRIVER_MEMORY``). On a
real cluster the same settings (AQE on, adaptive coalescing, skew-join
handling) are the ones that matter at 100 TB — partition counts are then
driven by AQE rather than the static ``spark.sql.shuffle.partitions``.

Python workers: a local session forks its workers from the engine's
daemon (``worker_daemon``), which skips the stock worker's per-task
import-cache flush when nothing on the import path changed. Spark
starts that daemon as ``python -m
implementation_of_an_etl_process_spark.worker_daemon``, so the package
must be importable by the workers: its root is the working directory,
on ``PYTHONPATH`` or in site-packages. The invoice decoder needs the
same, since its closure refers to ``sources.binary`` by name. Where the
package is not on that path, the session keeps PySpark's stock daemon.

Driver JVM: a local session maps a class-data-sharing archive of the
classes an earlier run loaded, or dumps one when its JVM exits
(``class_archive``); ``class_archive.decision()`` says which, or why
neither.
"""

from __future__ import annotations

import os
import site

from pyspark.sql import DataFrame, SparkSession

from implementation_of_an_etl_process_spark import class_archive
from implementation_of_an_etl_process_spark.plans.shape import (
    LATENCY_MODE_SHUFFLE_PARTITIONS,
)

DEFAULT_APP_NAME = "implementation-of-an-etl-process-spark"

# Local-mode heap: this share of host memory, never more than the cap.
# The rest stays for the JVM's off-heap use, the Python workers (one per
# core) and the page cache.
HEAP_SHARE = 0.4
HEAP_CAP_MB = 48 * 1024

_CGROUP_MEMORY_LIMITS = (
    "/sys/fs/cgroup/memory.max",  # cgroup v2
    "/sys/fs/cgroup/memory/memory.limit_in_bytes",  # cgroup v1
)

# Session confs the engine's queries rely on. All runtime-settable, so
# they can be applied to a session the engine didn't create (e.g. the
# verification driver's): nanos parquet columns read as long, and a
# fixed UTC timezone so temporal formatting is deterministic.
RUNTIME_REQUIRED_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
}


def ensure_engine_confs(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable confs the engine's plans assume.
    Idempotent; safe on foreign sessions."""
    for k, v in RUNTIME_REQUIRED_CONFS.items():
        if spark.conf.get(k, None) != v:
            spark.conf.set(k, v)
    return spark


def latency_session(spark: SparkSession) -> SparkSession | None:
    """A private clone of ``spark`` for small-input materializations:
    AQE off and ``LATENCY_MODE_SHUFFLE_PARTITIONS`` static shuffle
    partitions (see ``plans.shape``). The clone copies the caller's
    conf (``ensure_engine_confs`` included) and shares its SparkContext
    and cache, so the caller's session keeps its own settings, also for
    queries other threads run on it meanwhile. Returns None for
    sessions without a JVM session (Spark Connect): callers then stay
    on the AQE path."""
    jparent = getattr(spark, "_jsparkSession", None)
    if jparent is None:
        return None
    clone = SparkSession(spark.sparkContext, jparent.cloneSession())
    clone.conf.set("spark.sql.adaptive.enabled", "false")
    clone.conf.set(
        "spark.sql.shuffle.partitions", str(LATENCY_MODE_SHUFFLE_PARTITIONS)
    )
    return clone


def rebind(df: DataFrame, spark: SparkSession) -> DataFrame:
    """``df``'s logical plan as a frame of ``spark`` (a classic session
    sharing ``df``'s SparkContext): actions on the result plan and run
    under ``spark``'s settings."""
    jds = spark._jvm.org.apache.spark.sql.classic.Dataset  # noqa: SLF001
    return DataFrame(
        jds.ofRows(spark._jsparkSession, df._jdf.logicalPlan()),  # noqa: SLF001
        spark,
    )


def _package_on_worker_path() -> bool:
    """True when a Python worker that the JVM starts from this process
    (same working directory, same environment) imports this package:
    its root is the working directory (``python -m`` puts it first on
    the path), on ``PYTHONPATH``, or a site-packages directory."""
    root = os.path.realpath(os.path.dirname(os.path.dirname(__file__)))
    paths = [
        os.getcwd(),
        *os.environ.get("PYTHONPATH", "").split(os.pathsep),
        *site.getsitepackages(),
        site.getusersitepackages(),
    ]
    return any(p and os.path.realpath(p) == root for p in paths)


def default_cpus() -> int:
    """Task slots for local mode: ``SPARK_GRAFT_CPUS``, else the cores
    this process may run on."""
    if "SPARK_GRAFT_CPUS" in os.environ:
        return int(os.environ["SPARK_GRAFT_CPUS"])
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # no affinity API (macOS)
        return os.cpu_count() or 1


def host_memory_bytes() -> int:
    """Memory this process may use: physical RAM, lowered to the cgroup
    limit when one is set (an unlimited cgroup reads as "max" or as a
    huge number, which the min ignores)."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    for path in _CGROUP_MEMORY_LIMITS:
        try:
            with open(path) as fh:
                limit = fh.read().strip()
        except OSError:
            continue
        if limit.isdigit():
            total = min(total, int(limit))
    return total


def default_driver_memory() -> str:
    """Local-mode driver heap: ``SPARK_DRIVER_MEMORY``, else
    ``HEAP_SHARE`` of host memory capped at ``HEAP_CAP_MB``."""
    if "SPARK_DRIVER_MEMORY" in os.environ:
        return os.environ["SPARK_DRIVER_MEMORY"]
    mb = min(HEAP_CAP_MB, int(host_memory_bytes() * HEAP_SHARE) >> 20)
    return f"{mb}m"


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    *,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    AQE is enabled so runtime statistics re-plan joins (broadcast
    promotion, skew splitting) and coalesce small shuffle partitions —
    the behaviors that keep one static config valid from sf0.001 tests
    to a 1000-executor cluster.
    """
    cpus = default_cpus()
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 32)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # --- Adaptive execution: the scale story -------------------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # --- Python boundary: Arrow everywhere ---------------------------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # --- Determinism for oracle comparison ---------------------------
        .config("spark.sql.session.timeZone", "UTC")
        # Read INT64 TIMESTAMP(NANOS) parquet columns as long (Spark has
        # no nanos type); loaders convert to TimestampType at micros.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # --- Quieter local runs ------------------------------------------
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        # Arrow transfer batch: 128Ki rows per batch (default 10k).
        # Python sources/UDFs stream millions of narrow rows; bigger
        # batches cut per-batch IPC/pickling overhead ~10x with
        # negligible memory cost.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "131072")
    )
    # Local mode: single JVM, driver memory is the only pool, so it is
    # sized from the host rather than fixed.
    if master.startswith("local"):
        builder = builder.config("spark.driver.memory", default_driver_memory())
        # Shuffle/spill files on tmpfs when available: measured 2x
        # end-to-end on shuffle-heavy full-scale runs vs /tmp-on-disk.
        # (On a real cluster the analogous setting is local NVMe for
        # spark.local.dir — this is the local[] stand-in, not a hack.)
        local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
        if local_dir is None and os.access("/dev/shm", os.W_OK):
            try:
                st = os.statvfs("/dev/shm")
                # only default to tmpfs when it can absorb real shuffle
                # spill (8 GiB floor) — small-tmpfs hosts keep /tmp
                if st.f_bavail * st.f_frsize >= 8 << 30:
                    local_dir = "/dev/shm/spark-local"
            except OSError:
                pass
        if local_dir:
            builder = builder.config("spark.local.dir", local_dir)
        # Workers from the engine's daemon: no per-task import-cache
        # flush (see worker_daemon). Local only: the driver cannot see
        # an executor host's import path.
        if _package_on_worker_path():
            builder = builder.config(
                "spark.python.daemon.module",
                "implementation_of_an_etl_process_spark.worker_daemon",
            )
    # Generic conf passthrough: "k=v;k2=v2" in SPARK_GRAFT_CONF. The
    # documented hook for host-specific tuning (shuffle codec, adaptive
    # thresholds) and for A/B measurement without code edits — explicit
    # extra_conf still wins below.
    caller_conf = {}
    for pair in os.environ.get("SPARK_GRAFT_CONF", "").split(";"):
        if "=" in pair:
            k, _, v = pair.partition("=")
            if k.strip():
                caller_conf[k.strip()] = v.strip()
    caller_conf.update(extra_conf or {})
    for k, v in caller_conf.items():
        builder = builder.config(k, v)
    # The driver JVM maps the class-data-sharing archive of an earlier
    # run, or dumps one at exit (see class_archive).
    caller_options = caller_conf.get(class_archive.JAVA_OPTIONS, "")
    archive = class_archive.plan(master, caller_options)
    if archive and archive.java_options:
        builder = builder.config(
            class_archive.JAVA_OPTIONS,
            f"{caller_options} {archive.java_options}".strip(),
        )
    spark = class_archive.launch(archive, builder.getOrCreate)
    spark.sparkContext.setLogLevel("WARN")
    return spark
