"""SparkSession factory.

The reference runs single-threaded on a 1 GB EC2 box
(/root/reference/docs/platform_setup.md:27-38); this engine targets a
multi-executor cluster. Session defaults are chosen so the same logical
plans scale: AQE for runtime re-planning and skew joins, shuffle
partitions sized to the parallelism at hand, Arrow for any
pandas-exchange path.

Timezone note: the reference localizes everything to US/Central
(config/config_app.py:13).  For oracle comparison (DuckDB timestamps are
UTC-naive) the session timezone is pinned to UTC; pipeline code that
needs the reference's wall-clock semantics converts explicitly with
from_utc_timestamp/to_utc_timestamp instead of relying on session tz.

Parquet timestamps are written as INT64 microseconds
(``spark.sql.parquet.outputTimestampType=TIMESTAMP_MICROS``), not Spark's
legacy INT96.  INT96 columns carry no footer min/max, so the commit-log
stats ``io/txlog`` harvests could never bound a timestamp: the catalog
MERGE could not prune its candidates by ``collection_date``, the one key
that changes every night, and every earlier file of a layer stayed a
candidate.  INT64 micros keeps the full precision of ``TimestampType``
and is smaller on disk.  It is a session default because the writer
ignores it as a per-write ``.option``.  Files written before it stay
INT96 (stats-less, so they remain MERGE candidates) until
``txlog.compact`` rewrites them.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Reference session timezone (config/config_app.py:13) — applied explicitly
# in pipeline code, never via spark.sql.session.timeZone.
LOCAL_TZ = "America/Chicago"


def get_spark(
    app_name: str = "atd_data_lake_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    On a real cluster ``master`` comes from spark-submit; locally we
    default to ``local[$SPARK_GRAFT_CPUS]`` (default all cores) with
    shuffle partitions ≈ cores — the 200-partition default is wrong for
    both tiny local data and would be re-tuned upward (or left to AQE
    coalescing) on a 1000-executor cluster.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 32))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "90g"))
        .config("spark.ui.enabled", "false")
    )
    if not SparkSession.getActiveSession():
        builder = builder.master(master or f"local[{cpus}]")
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
