"""SparkSession factory with the engine's scale-oriented defaults.

Every knob here is chosen for the 100 TB design point and merely
harmless locally: AQE with skew-join splitting handles hot cell
prefixes at runtime, Arrow keeps the Python boundary columnar, and
shuffle partitions are pinned for deterministic tests.

Python workers start from the engine's daemon entry
(``PYTHON_DAEMON``, module ``pydaemon``), which stops every Python task
from re-parsing the unchanged zip archives on the worker's
``sys.path``. The engine package must therefore be
importable where Spark starts the daemon: the cwd, ``PYTHONPATH`` or
pyFiles. ``cluster.StandaloneCluster`` and the bench harnesses set the
same pair.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# The Spark conf pair that starts Python workers from ``pydaemon``.
PYTHON_DAEMON = ("spark.python.daemon.module", "s2js_spark.spark.pydaemon")


def get_session(
    master: str | None = None,
    app_name: str = "s2js_spark",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config(*PYTHON_DAEMON)
    )
    return builder.getOrCreate()
