"""SparkSession construction with the engine's recommended configs.

The driver may hand us its own session (``queries()`` callables take an
arbitrary ``SparkSession``), so nothing in the engine may *depend* on
these configs — every query is written to be timezone- and
config-independent. ``configure_session`` applies the few runtime-safe
settings we do need (notably reading nanosecond parquet timestamps).

Scale posture (SURVEY.md §4.2 / K6): AQE (on by default in Spark 4)
re-plans batch queries at runtime (skew-join splitting, partition
coalescing), Arrow is enabled so the few pandas-UDF operators use
vectorized transfer, and shuffle partitions default to the session's
cores. The last is for streaming: AQE cannot coalesce a stateful
streaming exchange and the state partition count is pinned in the
checkpoint at first start, so each partition is one Python task and
one state-store commit on every trigger for the life of the stream.
A Python task has a fixed cost: pyspark's
``worker_util.setup_spark_files`` calls ``importlib.invalidate_caches()``,
which on Python 3.11 re-reads the directory of every zip importer on
``sys.path`` (on a 4-vCPU host: 16-17 importers, ``pyspark.zip``'s
1,328 entries through 11-12 of them and the spark-core jar's 5,359
through 2, 140-215 ms of CPU per task). SCALING.md ("Cluster session")
has the measured effect on a stateful micro-batch.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable SQL confs every entry point applies defensively.
# nanosAsLong: the events table is parquet TIMESTAMP(NANOS); Spark 4
# refuses it by default. Reading it as a long and converting to
# TIMESTAMP_NTZ ourselves (io.load_events) matches DuckDB's ns->us
# truncation bit-for-bit (verified empirically).
RUNTIME_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
}


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers.

    Functions executed on workers (pandas UDFs, applyInPandas*,
    stateful processors) are pickled by reference to this module — if
    the driving process runs from a different cwd, workers cannot
    import it. Shipping a zip via addPyFile fixes that for ANY session
    we are handed. Idempotent per session.
    """
    try:
        sc = spark.sparkContext
        if getattr(sc, "_ffs_package_shipped", False):
            return
        import os
        import shutil
        import tempfile

        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        staging = tempfile.mkdtemp(prefix="ffs_pkg_")
        archive = shutil.make_archive(
            os.path.join(staging, "flink_framework_spark"),
            "zip",
            root_dir=os.path.dirname(pkg_dir),
            base_dir=os.path.basename(pkg_dir),
        )
        sc.addPyFile(archive)
        sc._ffs_package_shipped = True
    except Exception:  # pragma: no cover - best effort (e.g. Connect)
        pass


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an externally provided session."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - conf may be static
            pass
    _ship_package(spark)
    return spark


def get_spark(
    app_name: str = "flink-framework-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build the engine's own session (tests, bench, CLI use).

    - ``local[$SPARK_GRAFT_CPUS]`` by default (all cores when unset).
    - ``spark.sql.shuffle.partitions`` defaults to the context's
      ``defaultParallelism`` (N for ``local[N]``, total executor cores
      on a cluster), not a fixed count. Batch exchanges barely care,
      since AQE coalesces them, but a stateful streaming exchange is
      never coalesced and its partition count is pinned in the
      checkpoint at first start: each extra partition costs one Python
      task and one state-store commit on every trigger. Pass
      ``shuffle_partitions`` to size state to its volume instead (an
      existing checkpoint keeps its original count either way).
    - UTC session timezone: queries themselves are tz-independent, but
      UTC keeps any ad-hoc exploration deterministic.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    spark = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .getOrCreate()
    )
    if shuffle_partitions is None:
        shuffle_partitions = spark.sparkContext.defaultParallelism
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    return configure_session(spark)
