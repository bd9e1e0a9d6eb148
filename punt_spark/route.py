"""Routing — tag→Type dispatch, route-key computation, metadata stamps.

Reference: the worker loop head at /root/reference/lib/punt/cluster.go:

* tag dispatch with ``"*"`` catch-all fallback, else drop + ``msgs.unhandled``
  (cluster.go:253-263) → broadcast join against the (tiny) routes table with
  a coalesce onto the catch-all row.
* ``indexString = prefix + timestamp.Format(date_format)`` (cluster.go:284)
  → ``route_key`` column. The timestamp is the *envelope* timestamp captured
  before transform (cluster.go:265) — unpack-take does not change the bucket.
* ``@timestamp`` + ``punt-server`` stamps (cluster.go:285-286).

Physical note (100 TB): the routes table is a handful of rows — always
``F.broadcast``; the per-route date_format is resolved at *plan time* into a
when/otherwise chain over the distinct formats (never per-row interpretation
of a format string), so route_key stays inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import AT_TIMESTAMP_FORMAT, PipelineConfig
from .session import values_df


def routes_df(spark: SparkSession, cfg: PipelineConfig) -> DataFrame:
    """Materialize the Type registry (state.go:31-33) as a VALUES table:
    ``route()`` collects it and every routed plan broadcasts it, all
    without a Spark job."""
    rows = [
        (t.name, t.prefix, t.mapping_type, t.java_date_format, t.transformer, t.sink_name)
        for t in cfg.types.values()
    ]
    return values_df(
        spark, rows, "tag string, prefix string, mapping_type string, "
        "date_format string, transformer string, sink string"
    )


def route(
    df: DataFrame,
    routes: DataFrame,
    ts_col: str = "ts",
    tag_col: str = "tag",
    job_id: str = "punt-spark",
) -> tuple[DataFrame, DataFrame]:
    """Dispatch rows to routes. Returns (routed, unhandled).

    routed gains: prefix, mapping_type, date_format, transformer, sink,
    route_key, ts_day, `@timestamp`, `punt-server`.
    unhandled = rows whose tag matches no route and no '*' exists
    (cluster.go:258-262) — kept as a side table for the metric.
    """
    specific = routes.filter(F.col("tag") != "*")
    catch_rows = routes.filter(F.col("tag") == "*").collect()
    catch = catch_rows[0] if catch_rows else None

    r_cols = ["prefix", "mapping_type", "date_format", "transformer", "sink"]
    r = specific.select(
        F.col("tag").alias("__r_tag"),
        *[F.col(c).alias(f"__r_{c}") for c in r_cols],
    )
    joined = df.join(
        F.broadcast(r), df[tag_col] == F.col("__r_tag"), "left"
    ).drop("__r_tag")

    if catch is not None:
        for c in r_cols:
            joined = joined.withColumn(
                f"__r_{c}", F.coalesce(F.col(f"__r_{c}"), F.lit(catch[c]))
            )

    matched = joined.filter(F.col("__r_sink").isNotNull())
    unhandled = joined.filter(F.col("__r_sink").isNull()).drop(
        *[f"__r_{c}" for c in r_cols]
    )

    for c in r_cols:
        matched = matched.withColumnRenamed(f"__r_{c}", c)

    # Resolve the per-route date format at plan time: one branch per distinct
    # format actually present in the registry. An EMPTY registry (no types
    # configured) is degenerate but constructible: every row is unhandled
    # and the routed side is empty — not an IndexError on fmts[0].
    fmts = sorted({row["date_format"] for row in routes.collect()})
    if not fmts:
        empty = matched.withColumns(
            {
                "route_key": F.lit(None).cast("string"),
                "ts_day": F.lit(None).cast("string"),
                "@timestamp": F.lit(None).cast("string"),
                "punt-server": F.lit(job_id),
            }
        ).limit(0)
        return empty, unhandled
    ts = F.col(ts_col)
    bucket = F.date_format(ts, fmts[0])
    for fmt in fmts[1:]:
        bucket = F.when(
            F.col("date_format") == fmt, F.date_format(ts, fmt)
        ).otherwise(bucket)

    routed = (
        matched.withColumn("route_key", F.concat(F.col("prefix"), bucket))
        .withColumn("ts_day", F.date_format(ts, "yyyy-MM-dd"))
        .withColumn("@timestamp", F.date_format(ts, AT_TIMESTAMP_FORMAT))
        .withColumn("punt-server", F.lit(job_id))
    )
    return routed, unhandled
