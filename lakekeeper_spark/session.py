"""SparkSession factory tuned for both local testing and cluster scale.

Settings chosen for the 100 TB design point:
  - AQE on (runtime coalescing, skew-join splitting) so static
    ``spark.sql.shuffle.partitions`` only needs to be an upper bound.
  - ``autoBroadcastJoinThreshold`` raised: every dimension table in the star
    schema (region/nation/customer/supplier/part at reasonable SF) should be
    broadcast, never shuffled.
  - UTC session timezone so timestamp semantics match the DuckDB oracle and
    are stable across cluster nodes (the events table's TIMESTAMP_NTZ ->
    epoch conversion in data.with_ts_ns depends on it).
"""

from __future__ import annotations

import logging
import os

from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_session(app_name: str = "lakekeeper-spark", master: str | None = None) -> SparkSession:
    cpus = default_parallelism()
    if master is None:
        master = f"local[{cpus}]"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 32)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.ui.enabled", "false")
        # local mode: driver heap IS the whole engine (all executor
        # threads share it). 8g on a 128 GiB box left long multi-query
        # sessions (fullsweep, bench) GC-bound once checkpoint blocks and
        # broadcast relations accumulated — observed as uniform 2-4x
        # slowdown phases in r17. Still env-overridable for small hosts.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    return builder.getOrCreate()


def ensure_runtime_confs(spark: SparkSession) -> None:
    """Apply runtime-settable confs to a session we did not create.

    The driver hands us its own SparkSession in ``entry``/``queries``; these
    confs are all runtime-settable SQLConf entries, so this works on any
    session. A conf the session holds static is logged and left as it is.
    """
    for key, value in [
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.adaptive.enabled", "true"),
        # a bare session defaults to 200 shuffle partitions; AQE coalesces
        # those for batch plans but CANNOT for stateful streaming (state
        # partitioning is fixed at the first checkpoint), so pin a count
        # sized to this machine
        ("spark.sql.shuffle.partitions", str(max(default_parallelism(), 32))),
    ]:
        try:
            spark.conf.set(key, value)
        except AnalysisException as exc:  # CANNOT_MODIFY_(STATIC_)CONFIG
            logging.getLogger(__name__).warning(
                "cannot set %s=%s on this session: %s", key, value, exc
            )
