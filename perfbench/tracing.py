"""Traced run: the group body called layer by layer from outside.

Each layer's public function is called in pipeline order (scan, parse,
route, then per sink transform → enrich → layout + commit, then the errors
commit and the alert rollups). Each layer's input is cached and its output
forced, so a layer's span covers only its own work. Each span runs under
its own Spark job group, so its jobs, stages and task metrics are read
back from the SparkContext's status store afterwards (no extra Spark jobs).
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from census import Census, Totals
from inputs import Inputs


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    run: str
    cpu_s: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds used so far by ``root_pid`` and every live descendant,
    including reaped children (the JVM plus its Python workers)."""
    tick = os.sysconf("SC_CLK_TCK")
    parent: dict[int, int] = {}
    cpu: dict[int, float] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(entry)
        parent[pid] = int(fields[1])
        cpu[pid] = sum(int(x) for x in fields[11:15]) / tick
    total = 0.0
    for pid in cpu:
        p = pid
        while p > 1 and p != root_pid:
            p = parent.get(p, 0)
        if p == root_pid:
            total += cpu[pid]
    return total


@dataclass
class Tracer:
    """Keeps spans in memory; each span sets its own Spark job group."""

    sc: object
    run: str
    jvm_pid: int
    spans: list[Span] = field(default_factory=list)
    _stack: list[str] = field(default_factory=list)

    def group(self, name: str) -> str:
        return f"{self.run}:{name}"

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        self.sc.setJobGroup(self.group(name), name)
        cpu0, t0 = tree_cpu_s(self.jvm_pid), time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            cpu = tree_cpu_s(self.jvm_pid) - cpu0
            self._stack.pop()
            if parent is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self.sc.setJobGroup(self.group(parent), parent)
            self.spans.append(Span(name, t0, end, parent, self.run, cpu))

    def total(self, prefix: str) -> float:
        return sum(s.dur for s in self.spans if s.name.startswith(prefix))

    def self_times(self) -> dict[str, float]:
        """Span duration minus the part of it that child spans cover."""
        out: dict[str, float] = {}
        for s in self.spans:
            kids = sorted(
                (c.start, c.end) for c in self.spans if c.parent == s.name
            )
            covered, reach = 0.0, s.start
            for a, b in kids:
                a, b = max(a, reach), min(b, s.end)
                if b > a:
                    covered += b - a
                    reach = b
            out[s.name] = out.get(s.name, 0.0) + s.dur - covered
        return out

    def as_rows(self) -> list[dict]:
        return [
            {
                "name": s.name, "start": s.start, "end": s.end,
                "parent": s.parent, "run": s.run, "cpu_s": s.cpu_s,
            }
            for s in self.spans
        ]


def _forced(df):
    """Cache ``df`` and materialize it; return (df, rows)."""
    df = df.cache()
    return df, df.count()


def layered_run(spark, inp: Inputs, out_dir: str, tracer: Tracer, census: Census) -> dict:
    """Run the group body layer by layer over ``inp``, committing to tables
    under ``out_dir``, and return the layer metrics listed in LAYERS.md."""
    from pyspark.sql import functions as F

    from punt_spark.alerts import matched_events, render_actions, rollup_all
    from punt_spark.config import default_config
    from punt_spark.enrich import apply_mutators
    from punt_spark.parse import with_parsed
    from punt_spark.pipeline import load_lookups, slim_parse_projection
    from punt_spark.route import route, routes_df
    from punt_spark.sink import (
        CHUNK_COL,
        SnapshotTable,
        chunk_expr,
        enforce_mapping,
        salted_write_layout,
    )
    from punt_spark.transform import apply_transformer

    cfg = default_config()
    lookups = load_lookups(spark, inp.fixture_dir)
    routes = routes_df(spark, cfg)
    table = lambda name: SnapshotTable(os.path.join(out_dir, name))  # noqa: E731
    batch_id = "perfbench-trace"
    cached = []
    m: dict[str, float] = {}
    files = 0
    failed_rows = 0
    try:
        with tracer.span("group"):
            with tracer.span("scan"):
                raw, _ = _forced(
                    spark.read.parquet(inp.transcripts)
                    .withColumn(CHUNK_COL, chunk_expr("ts"))
                    .withColumnRenamed("ts", "turn_ts")
                )
                cached.append(raw)
                chunks = sorted(
                    r[0] for r in raw.select(CHUNK_COL).distinct().collect()
                )
            with tracer.span("parse"):
                parsed, rows = _forced(
                    slim_parse_projection(with_parsed(raw, "text", cfg.reference_year))
                )
                cached.append(parsed)
                ok = parsed.filter(F.col("parse_ok")).count()
            m["parse.ok_frac"] = ok / rows
            errors = parsed.filter(~F.col("parse_ok")).select(
                F.col(CHUNK_COL),
                F.col("raw_text").alias("data"),
                F.col("parse_error").alias("error"),
            )
            envelope = (
                parsed.filter(F.col("parse_ok"))
                .drop("parse_ok", "raw_text", "parse_error")
                .withColumn("source", F.concat(F.lit("conv:"), F.col("conv_id")))
            )
            with tracer.span("route"):
                routed, _unhandled = route(envelope, routes, job_id=cfg.job_id)
                routed, m["route.rows"] = _forced(routed)
                cached.append(routed)
            alert_events: dict[str, list] = {a.name: [] for a in cfg.alerts}
            for t in cfg.types.values():
                short = t.sink_name.removeprefix("sink_")
                sub = routed.filter(F.col("sink") == t.sink_name)
                with tracer.span(f"transform.{short}"):
                    transformed, failed = apply_transformer(sub, t)
                    transformed, _ = _forced(transformed)
                    cached.append(transformed)
                    failed_rows += failed.count()
                with tracer.span(f"enrich.{short}"):
                    enriched = apply_mutators(transformed, t.mutators, lookups)
                    final, _ = _forced(
                        enforce_mapping(
                            enriched.drop(
                                "prefix", "mapping_type", "date_format",
                                "transformer", "sink",
                            ),
                            cfg.mappings.get(t.mapping_type),
                        )
                    )
                    cached.append(final)
                with tracer.span(f"sink.{short}"):
                    manifests = table(t.sink_name).commit_batch(
                        salted_write_layout(final, cfg.output_partitions, cfg.salt_buckets),
                        batch_id=batch_id, chunks=chunks,
                    )
                    files += sum(man["n_files"] for man in manifests.values())
                for a in cfg.alerts:
                    ev = matched_events(enriched, a, t.name)
                    if ev is not None:
                        alert_events[a.name].append(ev)
            with tracer.span("sink_errors"):
                table("errors").commit_batch(
                    errors.coalesce(4), batch_id=batch_id, chunks=chunks,
                    partition_cols=[],
                )
            with tracer.span("alerts"):
                windows = 0
                rolled = rollup_all(alert_events, cfg.alerts)
                if rolled is not None:
                    rolled, windows = _forced(rolled.coalesce(4))
                    cached.append(rolled)
                    table("alerts").commit(rolled, snapshot_id=batch_id, partition_cols=[])
                    acts = render_actions(rolled, cfg.alerts, cfg.actions)
                    if acts is not None:
                        table("actions").commit(acts, snapshot_id=batch_id, partition_cols=[])
    finally:
        for df in cached:
            df.unpersist()

    def group_totals(prefix: str) -> Totals:
        jobs = [
            j
            for s in tracer.spans
            if s.name.startswith(prefix)
            for j in census.jobs_in_group(tracer.group(s.name))
        ]
        return census.totals(jobs)

    parse_t = group_totals("parse")
    sink_t = group_totals("sink.")
    task_rows = census.task_output_rows(sink_t.stage_ids)
    m.update(
        {
            "scan.s": tracer.total("scan"),
            "parse.s": tracer.total("parse"),
            "parse.task_cpu_s": parse_t.task_cpu_s,
            "parse.cpu_us_per_row": sum(
                s.cpu_s for s in tracer.spans if s.name == "parse"
            ) * 1e6 / rows,
            "route.s": tracer.total("route"),
            "transform.s": tracer.total("transform."),
            "transform.failed_rows": failed_rows,
            "enrich.s": tracer.total("enrich."),
            "sink.write_s": tracer.total("sink."),
            "sink.files": files,
            "sink.mb": sink_t.output_mb,
            "sink.shuffle_mb": sink_t.shuffle_write_mb,
            "sink.max_task_rows": max(task_rows, default=0),
            "sink.task_skew": (
                max(task_rows) / statistics.median(task_rows) if task_rows else 0.0
            ),
            "sink.errors.write_s": tracer.total("sink_errors"),
            "alerts.s": tracer.total("alerts"),
            "alerts.windows": windows,
        }
    )
    return m
