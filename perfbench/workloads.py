"""The benchmark's operations and the correctness checks on their outputs.

An operation is one call into punt_spark's public API whose wall time is a
sample: a ``Pipeline.run`` (batch), a scan → parse → route pass written to
the noop sink (core), or, in traced runs, a micro-batch of
``StreamingPipeline.run_available_now``. Every operation is checked; one
that raises or fails a check counts as failed in the ``Ledger``.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field

from inputs import Inputs


@dataclass
class Ledger:
    """Operations attempted and failed, with the reason for each failure."""

    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)

    def record(self, ops: int, problems: list[str]) -> None:
        self.attempted += ops
        if problems:
            self.failed += ops
            self.failures.extend(problems)
            for p in problems:
                print(f"perfbench: check failed: {p}", file=sys.stderr)

    def crashed(self, ops: int, what: str) -> None:
        traceback.print_exc(file=sys.stderr)
        self.record(ops, [f"{what} raised {sys.exc_info()[1]!r}"])


def core_frame(spark, inp: Inputs):
    """Scan → parse UDF → broadcast route join, the pipeline's CPU core."""
    from pyspark.sql import functions as F

    from punt_spark.config import default_config
    from punt_spark.parse import with_parsed
    from punt_spark.route import route, routes_df

    cfg = default_config()
    raw = spark.read.parquet(inp.transcripts).withColumnRenamed("ts", "turn_ts")
    env = with_parsed(raw, "text", cfg.reference_year).filter(
        F.col("parse_ok")
    ).select(
        "conv_id", "turn_idx", "turn_ts", "parsed.priority", "parsed.ts",
        "parsed.hostname", "parsed.tag", "parsed.pid", "parsed.content",
    )
    routed, _ = route(env, routes_df(spark, cfg), job_id=cfg.job_id)
    return routed


def core_pass(
    spark, inp: Inputs, expected: dict, ledger: Ledger, cpu_clock=None
) -> tuple[float, float]:
    """One core pass to the noop sink; the routed row count rides the write
    as an observation and must equal the reference's received count.
    Returns the write's wall seconds and, if ``cpu_clock`` is given, the
    CPU seconds it reads across the write (else 0)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation("perfbench_core")
    df = core_frame(spark, inp).observe(obs, F.count(F.lit(1)).alias("rows"))
    cpu0 = cpu_clock() if cpu_clock else 0.0
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    wall = time.perf_counter() - t0
    cpu = cpu_clock() - cpu0 if cpu_clock else 0.0
    rows, want = obs.get["rows"], expected["received"]
    ledger.record(1, [] if rows == want else [f"core routed {rows} != reference {want}"])
    return wall, cpu


def _table_rows(root: str) -> int:
    """Rows in the files a SnapshotTable's manifests list, from their
    parquet footers (a Spark read with mergeSchema costs ~15 s here)."""
    import pyarrow.parquet as pq

    from punt_spark.sink import SnapshotTable

    table = SnapshotTable(root)
    return sum(
        pq.ParquetFile(os.path.join(table.root, f)).metadata.num_rows
        for manifest in table.snapshots().values()
        for f in manifest["files"]
    )


def sink_problems(out_dir: str, expected: dict, what: str) -> list[str]:
    """Per-sink and errors row counts of the committed snapshots."""
    want = dict(expected["sinks"], errors=expected["errors"])
    problems = []
    for name, n_want in sorted(want.items()):
        n = _table_rows(os.path.join(out_dir, name))
        if n != n_want:
            problems.append(f"{what} {name}: {n} rows != reference {n_want}")
    return problems


def _accounting_problems(totals: dict, expected: dict, what: str) -> list[str]:
    received = totals.get("msgs.received", 0)
    inserted = totals.get("msgs.inserted", 0)
    failed = totals.get("msgs.failed", 0)
    parse_errors = totals.get("parse_errors", 0)
    problems = []
    if received != inserted + failed:
        problems.append(
            f"{what}: received {received} != inserted {inserted} + failed {failed}"
        )
    if received + parse_errors != expected["turns"]:
        problems.append(
            f"{what}: received {received} + parse_errors {parse_errors}"
            f" != input rows {expected['turns']}"
        )
    if inserted != sum(expected["sinks"].values()):
        problems.append(
            f"{what}: inserted {inserted} != reference {sum(expected['sinks'].values())}"
        )
    return problems


def _latencies(totals: dict) -> dict:
    """The program's own stage timings, from its metrics totals."""
    return {k: v for k, v in totals.items() if "latency" in k}


def run_batch(
    spark, inp: Inputs, out_dir: str, expected: dict, ledger: Ledger, last_job=None
) -> dict | None:
    """One ``Pipeline.run(resume=False)`` over every chunk, then its checks:
    accounting invariants, per-sink read-back counts, and a resume rerun
    that must process zero chunks. Returns the run's numbers, or None if
    it raised. ``last_job``, if given, is called right after the run and
    its value returned, to bound a census to the run's own jobs."""
    from punt_spark.pipeline import Pipeline, load_lookups

    shutil.rmtree(out_dir, ignore_errors=True)
    try:
        transcripts = spark.read.parquet(inp.transcripts)
        lookups = load_lookups(spark, inp.fixture_dir)
        pipe = Pipeline(spark, out_dir=out_dir, lookups=lookups, collect_metrics=True)
        t0 = time.perf_counter()
        res = pipe.run(transcripts, resume=False)
        wall = time.perf_counter() - t0
        last = last_job() if last_job else None
        totals = res["metrics"]
        t_check = time.perf_counter()
        problems = _accounting_problems(totals, expected, "batch")
        problems += sink_problems(out_dir, expected, "batch")
        rerun = Pipeline(
            spark, out_dir=out_dir, lookups=lookups, collect_metrics=True
        ).run(transcripts, resume=True)
        if rerun["chunks_processed"]:
            problems.append(f"batch resume reprocessed {rerun['chunks_processed']}")
        check_s = time.perf_counter() - t_check
    except Exception:
        ledger.crashed(1, "batch run")
        return None
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
    ledger.record(1, problems)
    return {
        "wall_s": wall,
        "body_s": totals.get("processing_latency", wall),
        "latency": _latencies(totals),
        "last_job": last,
        "check_s": check_s,
    }


def run_stream(
    spark, inp: Inputs, out_dir: str, expected: dict, ledger: Ledger, last_job=None
) -> dict | None:
    """One ``run_available_now(max_files_per_trigger=1)`` drain: one
    micro-batch per part file. Checks the accounting invariants over the
    drain and the per-sink read-back counts (equal to the batch reference,
    so stream and batch totals agree)."""
    from punt_spark.pipeline import load_lookups
    from punt_spark.streaming import StreamingPipeline

    shutil.rmtree(out_dir, ignore_errors=True)
    ops = inp.files
    try:
        lookups = load_lookups(spark, inp.fixture_dir)
        sp = StreamingPipeline(spark, out_dir=out_dir, lookups=lookups, collect_metrics=True)
        t0 = time.perf_counter()
        q = sp.run_available_now(inp.transcripts, max_files_per_trigger=1)
        wall = time.perf_counter() - t0
        last = last_job() if last_job else None
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        totals = sp.metrics.totals()
        t_check = time.perf_counter()
        problems = []
        if len(progress) != inp.files:
            problems.append(f"stream ran {len(progress)} micro-batches, want {inp.files}")
        problems += _accounting_problems(totals, expected, "stream")
        problems += sink_problems(out_dir, expected, "stream")
        check_s = time.perf_counter() - t_check
    except Exception:
        ledger.crashed(ops, "stream drain")
        return None
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
    ledger.record(ops, problems)
    return {
        "wall_s": wall,
        "durations_ms": [p["durationMs"] for p in progress],
        "batch_rows": [p["numInputRows"] for p in progress],
        "latency": _latencies(totals),
        "last_job": last,
        "check_s": check_s,
    }


def run_core(
    spark, inp: Inputs, out_dir: str, expected: dict, ledger: Ledger, last_job=None
) -> dict | None:
    """One core pass (scan → parse → route → noop write); its routed row
    count is checked against the reference inside ``core_pass``."""
    try:
        wall, _ = core_pass(spark, inp, expected, ledger)
    except Exception:
        ledger.crashed(1, "core pass")
        return None
    return {
        "wall_s": wall,
        "body_s": wall,
        "last_job": last_job() if last_job else None,
    }


OPS = {"batch_fanout": run_batch, "parse_route_core": run_core}
