"""SparkSession factory.

The reference builds a local[*] session with an Iceberg Hadoop catalog in
every job (reference IngestionJob.scala:12-20 and identical blocks in the
other four jobs). Here a single factory owns session construction; the
defaults are tuned for correctness tests on local[N] while remaining the
right defaults for a large cluster:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing)
- shuffle partitions sized from the env, not hardcoded 200
- Arrow enabled for the few pandas-UDF code paths
- zstd for every parquet file the engine writes (warehouse stage tables,
  txlog data files, change-feed files, OPTIMIZE rewrites). Spark 4.1
  already writes ORC as zstd; its parquet default is still snappy.
  Measured as bytes written per input byte (median of paired runs), the
  seeded star ETL (perfbench ``etl_star``, 7,685 input rows) fell from
  3.77 to 3.20 and the CDC workload (``cdc_curation``) from 1.20 to 0.81
- a driver heap sized from the box (a quarter of MemTotal, at most 16 GiB)
  unless ``SPARK_DRIVER_MEMORY`` names one

Observed metrics are read through :func:`observed`, which waits a fixed
time and raises instead of blocking forever.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import Observation, SparkSession

# Observed metrics are read right after the action that fills them has
# returned, so they should already be there; the bound only turns a frame
# that never ran (or a Spark change in how an action reports its metrics)
# into an error instead of a hang.
OBSERVATION_TIMEOUT_S = 60.0


def _default_driver_memory() -> str:
    """A quarter of the box's memory, capped at 16 GiB ("4g" when
    /proc/meminfo is unreadable): local mode runs every executor thread
    inside the driver JVM, and the box's other processes need the rest."""
    try:
        with open("/proc/meminfo") as fh:
            kib = next(
                int(line.split()[1]) for line in fh if line.startswith("MemTotal:")
            )
    except (OSError, StopIteration, ValueError, IndexError):
        return "4g"
    return f"{min(16 << 10, kib // 4 >> 10)}m"


def observed(obs: Observation) -> dict:
    """``obs.get`` with a time bound: raise TimeoutError when the metrics
    have not arrived within OBSERVATION_TIMEOUT_S seconds, e.g. because no
    action ever ran on the observed frame (``Observation.get`` would block
    forever)."""
    jo = obs._jo  # noqa: SLF001 - the JVM Observation; None before observe()
    if jo is not None:
        future = jo.future()
        deadline = time.monotonic() + OBSERVATION_TIMEOUT_S
        while not future.isCompleted():
            if time.monotonic() >= deadline:
                raise TimeoutError(
                    f"observation {jo.name()} has no metrics after "
                    f"{OBSERVATION_TIMEOUT_S:g}s; did an action run on the "
                    "observed frame?"
                )
            time.sleep(0.01)
    return obs.get


def get_spark(
    app_name: str = "complex-data-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``).
    On a real cluster, pass ``master=None`` and launch via spark-submit;
    the builder then inherits the cluster master.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if master is None:
        master = f"local[{cpus}]"

    # Python workers must be able to import this package (Python DataSource
    # classes — sources/pyds.py — unpickle by module reference). Local-mode
    # workers inherit the JVM's env, which inherits ours, so exporting
    # PYTHONPATH before the JVM launches covers them; on a real cluster ship
    # the package with --py-files / a wheel instead.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{existing}" if existing else pkg_root
        )
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(int(cpus), 8)
        except ValueError:
            shuffle_partitions = 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # let Python DataSources (sources/pyds.py) see pushed filters for
        # log-metadata file pruning
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # nanosecond parquet timestamps (events table) must not error
        .config("spark.sql.legacy.parquet.nanosAsLong", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
