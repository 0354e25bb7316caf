"""The one Spark session builder: every job, the bench harness and the
test suite start their session here, so the settings the engine ships
with are written down once.

    spark = session.get_or_create("clip-quality-pipeline")
    spark = session.get_or_create("tests", **{"spark.master": "local[4]"})

An engine table (clips, scored/, labels/) has at most config.N_PARTS part
dirs, so sessions list them in the driver
(spark.sql.sources.parallelPartitionDiscovery.threshold).  Above the
threshold Spark lists them with a job of one task per dir, each of which
deserializes the Hadoop conf; at the default of 32 every 64-part read paid
for one.  The trade-off: on an object store the driver issues those LIST
calls one after another instead of in parallel.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from . import config


SHIPPED_CONF = {
    "spark.sql.adaptive.enabled": "true",
    # windowed aggs align to UTC epoch; pin the session zone so NTZ<->TZ
    # casts are identity and results are host-independent
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch":
        str(config.ARROW_MAX_RECORDS_PER_BATCH),
    # part-dir listing in the driver (module docstring)
    "spark.sql.sources.parallelPartitionDiscovery.threshold":
        str(config.N_PARTS),
}


def get_or_create(app_name: str, **conf) -> SparkSession:
    """The active session, or a new one with the shipped settings.  `conf`
    maps Spark config keys to values (master, memory, partitions, UI) and
    overrides a shipped setting of the same key."""
    builder = SparkSession.builder.appName(app_name)
    for key, value in {**SHIPPED_CONF, **conf}.items():
        builder = builder.config(key, str(value))
    return builder.getOrCreate()
