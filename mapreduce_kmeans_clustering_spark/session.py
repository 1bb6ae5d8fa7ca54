"""SparkSession factory.

Replaces the reference's per-job Hadoop ``Configuration`` wiring
(e.g. Task1.java:104-118) with one shared session. Local parallelism
defaults to the CPUs this process may run on, and every knob scales:
AQE re-plans shuffles at runtime (skew joins, partition coalescing),
shuffle partitions default to the core count, Arrow is on for the few
Pandas-UDF operators, and the session timezone is pinned to UTC so
results hash-match a DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # The reference silences Hadoop logging (log4j.properties:2); same here.
    "spark.ui.showConsoleProgress": "false",
}


def default_cpus() -> int:
    """Local parallelism: ``SPARK_GRAFT_CPUS`` when set, else the CPUs
    this process may run on (its affinity mask, which a container's
    cpuset narrows), else the machine's CPU count."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # no affinity API on this platform
        return os.cpu_count() or 1


def get_spark(
    app_name: str = "mrkc-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the shared SparkSession.

    ``SPARK_GRAFT_CPUS`` controls local parallelism; on a real cluster
    pass ``master`` / rely on spark-submit and the same code runs
    unchanged — nothing here assumes single-node.
    """
    cpus = default_cpus()
    builder = SparkSession.builder.appName(app_name).master(
        master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    )
    conf = dict(_DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions or cpus)
    conf["spark.default.parallelism"] = str(cpus)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
