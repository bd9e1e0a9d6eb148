"""SparkSession factory with scale-oriented defaults.

Designed for a multi-executor cluster reading ~100 TB; tested on local[N].
Every knob here is a public Spark conf.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

DEFAULT_SHUFFLE_PARTITIONS = 32

# The load-bearing session settings, shared by EVERY entry point (local CLI,
# tests, bench, and scripts/submit_job.py on a real cluster) so deployed
# behavior cannot drift from what was tested:
#
# * AQE on: runtime coalescing + skew-join splitting — load-bearing for the
#   hot-conversation skew called out in SURVEY.md §4.
# * Arrow on: every Python-side stage is a pandas or Arrow UDF over Arrow
#   batches.
# * Session timezone pinned UTC: the reference formats ``@timestamp`` as
#   ``2006-01-02T15:04:05+00:00`` (cluster.go:285); reproducibility demands
#   wall-clock independence.
# * timeParserPolicy CORRECTED: RFC3164 timestamps parse with try_to_*
#   semantics, never the legacy parser's silent coercions.
# * partition values are strings by contract (ts_day, route_key);
#   inference would read ts_day back as DATE.
# * zstd over snappy for sink parquet: measured 28% fewer bytes on the
#   transcript workload and never slower end-to-end on the I/O-bound
#   sandbox (25.8-27.6s vs 25.9-38.6s per 2.4M-turn run); at cluster
#   scale the byte reduction also cuts downstream scan cost.
SESSION_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.sources.partitionColumnTypeInference.enabled": "false",
    "spark.sql.legacy.timeParserPolicy": "CORRECTED",
    "spark.sql.parquet.compression.codec": "zstd",
}

# Local-mode-only tuning, NOT shipped to spark-submit sessions: small scan
# partitions + high per-file open cost keep a handful of modest part-files
# from collapsing into one scan task (on a real cluster the input is
# thousands of files and the defaults are fine), and the broadcast
# threshold is pinned so the intent survives config drift.
LOCAL_CONF: dict[str, str] = {
    "spark.sql.files.maxPartitionBytes": "16m",
    "spark.sql.files.openCostInBytes": "8m",
    "spark.sql.autoBroadcastJoinThreshold": "10m",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
}


def get_spark(
    app_name: str = "punt_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this pipeline — SESSION_CONF
    (shared with the spark-submit path) + local-mode tuning."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("PUNT_SPARK_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.driver.memory", os.environ.get("PUNT_SPARK_DRIVER_MEM", "8g"))
    )
    for conf in (SESSION_CONF, LOCAL_CONF, extra_conf or {}):
        for k, v in conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()


def _sql_string(v: object) -> str:
    """``str(v)`` as a Spark SQL string literal. Spark reads backslash
    escapes inside literals, so backslashes are escaped as well as
    quotes."""
    return "'" + str(v).replace("\\", "\\\\").replace("'", "\\'") + "'"


def values_df(spark: SparkSession, rows, schema: str) -> DataFrame:
    """A tiny constant table as a VALUES ``LocalRelation``.

    ``createDataFrame`` over a Python list plans ``Scan ExistingRDD``: every
    action over it, ``collect()`` included, starts a Python-worker job just
    to ship a few constant rows. A VALUES literal folds into the plan, so
    collecting it or broadcasting it starts no job. Each cell is rendered
    as ``CAST('<str(v)>' AS <type>)`` with the type from the DDL
    ``schema``, so the columns carry the declared types; ``None`` becomes a
    typed ``NULL``."""
    fields = StructType.fromDDL(schema).fields
    types = [f.dataType.simpleString() for f in fields]
    cols = ", ".join("`" + f.name.replace("`", "``") + "`" for f in fields)
    cells = [
        ", ".join(
            f"CAST({'NULL' if v is None else _sql_string(v)} AS {t})"
            for v, t in zip(r, types, strict=True)
        )
        for r in rows or [(None,) * len(types)]
    ]
    sql = "SELECT * FROM VALUES " + ", ".join(f"({c})" for c in cells)
    sql += f" AS t({cols})"
    return spark.sql(sql if rows else sql + " LIMIT 0")
