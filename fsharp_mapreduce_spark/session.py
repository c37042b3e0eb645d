"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what we would set on a real cluster; the
scale-sensitive knobs (AQE, skew-join handling, shuffle partitions,
Arrow) are on by default so every operator in the library is exercised
under the same execution regime it would see at 100 TB.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

# Heap ceiling: local mode is ONE JVM, and a heap sized near physical
# RAM (96g on a 125 GiB box) let G1 grow young gen into tens of GB of
# never-touched address space — every expansion faulted+zeroed pages
# (measured ~25 cores of SYSTEM time and 2-20× run-to-run variance on
# identical queries). Cluster deployments size executor heaps
# per-container anyway.
DRIVER_MEMORY_CAP_GIB = 20

_EXECUTOR_PYTHONPATH = "spark.executorEnv.PYTHONPATH"


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Half the host's RAM in whole GiB (at least 1), capped at
    DRIVER_MEMORY_CAP_GIB; the cap itself when RAM is unreadable."""
    try:
        with open(meminfo) as f:
            kib = next(
                int(line.split()[1]) for line in f if line.startswith("MemTotal:")
            )
    except (OSError, StopIteration):
        return f"{DRIVER_MEMORY_CAP_GIB}g"
    return f"{max(1, min(DRIVER_MEMORY_CAP_GIB, kib // (2 << 20)))}g"


def worker_conf(master: str, extra_conf: dict[str, str] | None) -> dict[str, str]:
    """``extra_conf``, plus two settings that only hold when the master
    is local, where workers and checkpoints share this host:

    - Python workers start from worker_daemon, which stops every task
      from re-reading pyspark.zip and the spark-core jar (see its
      docstring). Only a local master's workers run where this
      package's parent directory exists, so only then can they import
      the daemon from it. A PYTHONPATH in ``extra_conf`` is kept,
      after that directory.
    - Stream checkpoints are written through Hadoop's FileSystem API
      instead of FileContext. FileContext's overwriting rename asks
      the local file system whether source and destination are
      symlinks, and without libhadoop each ask forks ``readlink``:
      248 processes over a 4-trigger stream. The FileSystem-based manager
      does the same check-then-rename as local FileContext (an
      ``exists``, then ``File.renameTo``) and forks nothing. Other
      masters keep Spark's default, which suits every file system."""
    conf = {}
    if master.startswith("local"):
        conf["spark.python.daemon.module"] = "fsharp_mapreduce_spark.worker_daemon"
        conf[_EXECUTOR_PYTHONPATH] = str(Path(__file__).resolve().parent.parent)
        conf["spark.sql.streaming.checkpointFileManagerClass"] = (
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager"
        )
    for k, v in (extra_conf or {}).items():
        if k == _EXECUTOR_PYTHONPATH and k in conf:
            v = os.pathsep.join((conf[k], v))
        conf[k] = v
    return conf


def get_spark(
    app_name: str = "fsharp_mapreduce_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Local parallelism defaults to the cores this process may run on
    (affinity-aware, unlike os.cpu_count) and the driver heap to
    ``default_driver_memory``; ``SPARK_GRAFT_CPUS`` and
    ``SPARK_DRIVER_MEMORY`` override them. On a real cluster,
    ``master`` comes from spark-submit and the local[] default here is
    ignored.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    master = master or f"local[{cpus}]"
    # Rule of thumb: shuffle partitions ≈ cores in local mode; on a
    # cluster this is overridden upward (2-3× total cores) and AQE
    # coalesces the excess at runtime.
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cpus))
        # AQE: runtime partition coalescing, skew-join splitting and
        # dynamic join-strategy switching. Non-negotiable at scale.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for every pandas_udf / toPandas hop.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Deterministic cross-engine comparisons (duckdb is UTC-naive).
        .config("spark.sql.session.timeZone", "UTC")
        # Parquet vectorized reader + pushdown are default-on; pin them
        # so a misconfigured environment can't silently disable them.
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.enableVectorizedReader", "true")
        # The events fixture has TIMESTAMP(NANOS) parquet columns;
        # read them as int64 (converted in registry.table).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Broadcast threshold: 64 MB. Dimension tables (region, nation,
        # even customer at moderate SF) should broadcast, not shuffle.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory(),
        )
        # Managed tables (bucketed writes) land in /tmp, never the repo.
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/fsmr_warehouse"),
        )
    )
    for k, v in worker_conf(master, extra_conf).items():
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


_shipped_apps: set[str] = set()


def ensure_package_shipped(spark: SparkSession) -> None:
    """Make ``fsharp_mapreduce_spark`` importable on executors even when
    the driver launched outside the repo (the external-driver case):
    zip the package once per application and ``addPyFile`` it. Pure
    JVM-expression queries never need this; every path that ships a
    Python closure referencing package code calls it first — the
    PySpark analogue of the reference's closure shipping
    (Common.fs:14, pickled fns at Example-Job.fs:72-75)."""
    import tempfile
    import zipfile

    appid = spark.sparkContext.applicationId
    if appid in _shipped_apps:
        return
    pkg_root = Path(__file__).resolve().parent
    dest = Path(tempfile.gettempdir()) / f"fsmr_pkg_{appid}.zip"
    if not dest.exists():
        # write-then-rename: an interrupted zip write must not leave a
        # truncated file that dest.exists() later mistakes for a good
        # archive and ships to executors (code-review r4)
        import os

        tmp = dest.with_suffix(".zip.tmp")
        with zipfile.ZipFile(tmp, "w") as z:
            for p in sorted(pkg_root.rglob("*.py")):
                z.write(p, str(Path("fsharp_mapreduce_spark") / p.relative_to(pkg_root)))
        os.replace(tmp, dest)
    # keyed by applicationId, so a new zip per app: without exit
    # cleanup these accumulate one ~100 KB archive per session under
    # /tmp forever (ADVICE r6 #2's leak, pkg-zip flavor)
    from fsharp_mapreduce_spark.scratch import cleanup_at_exit

    cleanup_at_exit(str(dest))
    spark.sparkContext.addPyFile(str(dest))
    _shipped_apps.add(appid)


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] | None = None):
    """Read the fixture star schema; returns {name: DataFrame} and
    registers each as a temp view (so SQL-path operators work too)."""
    names = names or (
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    )
    from fsharp_mapreduce_spark.registry import table

    out = {}
    for name in names:
        df = table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
