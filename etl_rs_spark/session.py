"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[N]`` but every knob is chosen for the
1000-executor / 100 TB case and merely *parameterized* down:

- AQE on (runtime coalescing + skew-join splitting),
- Arrow on (all pandas-UDF transforms batch through Arrow),
- shuffle partitions sized to cores locally; on a real cluster this is
  ``2-3x total executor cores`` and AQE coalesces down.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import SparkSession


def host_cpus() -> int:
    """Cores this process may run on; ``SPARK_GRAFT_CPUS`` overrides."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def host_driver_mem() -> str:
    """Driver heap: half of physical RAM (the local-mode driver also runs
    the executors, and the OS, page cache and Python workers need the
    rest); ``SPARK_DRIVER_MEM`` overrides."""
    env = os.environ.get("SPARK_DRIVER_MEM")
    if env:
        return env
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, ram // 2**31)}g"


def ship_package(spark: SparkSession) -> None:
    """Ship etl_rs_spark to executors (the --py-files mechanism, done
    programmatically). Pandas-UDF closures reference functions in this
    package by module path; executor Python workers must be able to
    import it regardless of the driver's cwd/sys.path."""
    import hashlib

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    # build under a per-process name (two concurrent sessions must not
    # truncate each other mid-build), then atomically rename to a
    # CONTENT-addressed path: one file per package version instead of
    # one orphan per dead pid (a bench round spawns ~30 subprocesses).
    zip_base = os.path.join(
        tempfile.gettempdir(), f"etl_rs_spark_pkg_{os.getpid()}"
    )
    zip_path = shutil.make_archive(zip_base, "zip", root_dir=root, base_dir="etl_rs_spark")
    with open(zip_path, "rb") as f:
        digest = hashlib.md5(f.read()).hexdigest()[:12]
    stable = os.path.join(tempfile.gettempdir(), f"etl_rs_spark_pkg_{digest}.zip")
    os.replace(zip_path, stable)
    spark.sparkContext.addPyFile(stable)


def force(df) -> None:
    """Force full execution without collecting (the noop sink) — THE
    way benchmarks in this repo time a plan; one definition so every
    harness measures the same thing."""
    df.write.format("noop").mode("overwrite").save()


def get_spark(
    app_name: str = "etl-rs-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cores = host_cpus()
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]")
    shuffle_partitions = shuffle_partitions or cores

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", host_driver_mem())
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    ship_package(spark)
    return spark
