"""SparkSession builder tuned for the transcript pipeline.

Local mode stands in for a multi-executor cluster (BASELINE.md protocol);
the confs below are the ones that matter at 100 TB too: AQE with skew-join
splitting, shuffle partitions scaled to parallelism, Arrow batching for the
parse UDF.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import SparkSession


def get_spark(
    app: str = "ngxspark",
    master: str | None = None,
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    # Workers must run the SAME interpreter as the driver: PySpark spawns
    # bare `python3` when PYSPARK_PYTHON is unset, and a PATH whose
    # system python lacks pyarrow/pandas then kills every Arrow-tier
    # query (parse UDF, mapInPandas kernels) with ModuleNotFoundError
    # while pure-JVM queries pass — observed under a stripped-env
    # harness in r7. Respect an explicit override.
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    # Workers unpickle UDFs by module reference, so they must import
    # ngxspark too: their sys.path holds only the JVM's cwd and the
    # inherited PYTHONPATH, and from any other cwd every Arrow-tier task
    # dies with ModuleNotFoundError. Prepend the package's parent.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    if pkg_root not in paths:
        os.environ["PYTHONPATH"] = os.pathsep.join([pkg_root, *paths])
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cores}]"
    if shuffle_partitions is None:
        # ~2 partitions per core keeps all slots busy through stragglers
        shuffle_partitions = max(2 * cores, 8)
    b = (
        SparkSession.builder.appName(app)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("NGXSPARK_DRIVER_MEM", "16g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
