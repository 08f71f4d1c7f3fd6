"""SparkSession factory with the engine's standard configuration.

Design notes (SURVEY.md §4.1):
- AQE on: runtime partition coalescing + skew-join splitting are the
  backstop for residual skew (primary skew control is explicit salting
  and per-block caps in el.blocking).
- Arrow on: every Python kernel is a pandas/Arrow UDF; batch size is
  tuned so a batch amortizes UDF setup without blowing executor memory.
- Python workers start from ``el.worker_daemon``
  (``spark.python.daemon.module``), with el's import root on their
  path: PySpark calls ``importlib.invalidate_caches()`` at the start of
  every Python task, and on Python 3.10+ that re-reads the central
  directory of every zip archive on the worker path (``pyspark.zip``
  and its entries, jars), about 80 ms per task on 4 vCPUs. The
  archives never change while an app runs, so the daemon skips them.
- Session timezone pinned to UTC so timestamp semantics match the
  DuckDB oracle (naive-UTC) exactly.
- shuffle.partitions defaults to the local core count; on a real
  cluster pass ``shuffle_partitions ~= 2-3x total cores`` (AQE coalesces
  the excess at runtime, so erring high is safe at 100 TB scale).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_ARROW_BATCH = 10_000
# the directory el is imported from: Python workers start from
# el.worker_daemon, so it goes on the worker path
_EL_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "el",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the configured SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, else all
    cores). On a real cluster spark-submit supplies the master and this
    argument is left None.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    if master is None:
        master = f"local[{cpus}]"
    # 2x tasks per core (standard guidance; AQE coalesces excess).
    # Empirically required here: with partitions == cores every core
    # runs exactly one Python-UDF task and the JVM feeder threads
    # starve behind the pinned Python workers — a 6M-pair scoring pass
    # measured 85s at 32 partitions on local[32] vs 6.4s at 64.
    n_shuffle = shuffle_partitions or 2 * _parallelism_of(master, int(cpus))

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.default.parallelism", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(DEFAULT_ARROW_BATCH),
        )
        # deterministic floating point in parquet stats / no ANSI surprises
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.driver.memory", os.environ.get("EL_DRIVER_MEM", "8g"))
        # shuffle/spill scratch on tmpfs when available: this sandbox's
        # /tmp sits on a shared virtual disk whose concurrent-write
        # throughput collapses under 32 writers; on a real cluster the
        # equivalent is per-node local NVMe (scales with node count)
        .config("spark.local.dir", _scratch_dir())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.python.daemon.module", "el.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _EL_ROOT)
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def _scratch_dir() -> str:
    # explicit override first: container tmpfs is often tiny (64 MB
    # default in many runtimes), so shuffle-heavy jobs may need to opt
    # OUT of /dev/shm even when it is writable
    override = os.environ.get("EL_SPARK_LOCAL_DIR")
    if override:
        os.makedirs(override, exist_ok=True)
        return override
    shm = "/dev/shm"
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        try:
            free = os.statvfs(shm)
            if free.f_bavail * free.f_frsize >= 8 << 30:  # >= 8 GiB free
                d = os.path.join(shm, "spark-local")
                os.makedirs(d, exist_ok=True)
                return d
        except OSError:
            pass
    return os.environ.get("TMPDIR", "/tmp")


def _parallelism_of(master: str, default: int) -> int:
    if master.startswith("local["):
        inner = master[len("local[") : -1]
        if inner == "*":
            return os.cpu_count() or default
        try:
            return int(inner)
        except ValueError:
            return default
    return default
