#!/usr/bin/env python3
"""punt_spark benchmark: one workload per invocation, one JSON line out.

    python3 perfbench/run.py --workload batch_fanout --seed 1 --seconds 12 --trace 0

Run it from the root of a checkout. The program is imported from that root.
Inputs, Spark scratch space, sink output and result files all go under
``.perfbench_work/``, and nothing outside the checkout is read or written.

Workloads are closed loops: submit one operation, wait for it, check it.

* ``batch_fanout``: ``Pipeline.run(resume=False)`` with metrics on, over
  ~2k seeded turns in 4 part files. The input has 4 ts-day chunks, run as
  one group. Each run fans out to five sinks, plus the errors, alerts and
  actions tables.
* ``parse_route_core``: scan → ``with_parsed`` → ``route`` → noop write,
  over 200k seeded turns in 16 part files.

Two more workloads are not timed, because one run of either would cost well
over the ~60 s of a run of the timed ones:

* ``stream_microbatch``: each micro-batch has ~12 s of fixed cost. The
  streaming drain runs as a leg of every traced run instead.
* ``query_suite``: its tables are not in the repository, and one pass over
  the queries takes ~100 s.

``--trace 0`` prints the end-to-end metrics:

* ``setup_s``: SparkSession start, plus one warm-up operation of the
  workload. The first start also launches the JVM.
* ``turns_per_s``: input turns over the wall time of the measured operations.
  Operations run until ``--seconds`` have been measured, and at least twice.
* ``op_p50_s``: median wall time of one measured operation.

Peak resident memory is a per-layer metric (``memory.peak_rss_mb``), not an
end-to-end one: with the same input it varies by about 25% from run to
run, because the JVM sizes its heap adaptively.

``--trace 1`` prints the per-layer metrics of ``LAYERS.md``. It reads a
Spark census of one workload operation from the status store. It then runs a
streaming drain, the group body called layer by layer, and the core at N
threads and at 1 thread. The spans and all raw numbers are written to
``.perfbench_work/results/``.

Every operation is checked against the pure-Python reference
(``punt_spark.reference_impl``). ``failed`` counts the operations that
raised or failed a check.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

# (generated turns, hours kept per day or None for all) of each input kind
SLICE = (48_000, 1)  # ~2k turns, 4 ts-days
FULL = (200_000, None)
BATCH_FILES, STREAM_FILES, CORE_FILES_PER_THREAD = 4, 2, 4
MIN_OPS = 2  # measured operations per run, whatever --seconds says
WORKLOADS = ("batch_fanout", "parse_route_core")


def _parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--scale", type=float, default=1.0,
        help="multiply the generated turns (the self-test uses small inputs)",
    )
    p.add_argument(
        "--plant-miscount", action="store_true",
        help="expect one row too many in one sink (self-test of the checks)",
    )
    return p.parse_args(argv)


def _prepare_env() -> None:
    """Point the program, Spark and its Python workers at the checkout."""
    if not os.path.isfile(os.path.join(ROOT, "punt_spark", "__init__.py")):
        sys.exit(f"perfbench: no punt_spark package under {ROOT}")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    # Every JVM (the spark-submit launcher too): scratch in the checkout, and
    # no hsperfdata file, which would go to /tmp whatever the tmpdir says.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PUNT_SPARK_DRIVER_MEM"] = "2g"
    sys.path[:0] = [ROOT, HERE]


def start_session(threads: int):
    from pyspark.sql import SparkSession

    from punt_spark.session import get_spark

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    return get_spark(
        app_name="perfbench",
        master=f"local[{threads}]",
        shuffle_partitions=max(8, 2 * threads),
        extra_conf={"spark.sql.warehouse.dir": os.path.join(WORK, "warehouse")},
    )


def _vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


class Bench:
    """One invocation: the inputs, the expectation and the ledger."""

    def __init__(self, args):
        from inputs import prepare
        from workloads import OPS, Ledger

        self.args = args
        self.ledger = Ledger()
        g = lambda kind: (int(kind[0] * args.scale), kind[1])  # noqa: E731
        self.slice = lambda files: prepare(WORK, *g(SLICE), args.seed, files)  # noqa: E731
        self.core = lambda: prepare(  # noqa: E731
            WORK, *g(FULL), args.seed, CORE_FILES_PER_THREAD * args.threads
        )
        self.inp = self.slice(BATCH_FILES) if args.workload == "batch_fanout" else self.core()
        self.build_s = self.inp.build_s
        self.expected = json.loads(json.dumps(self.inp.expected))
        if args.plant_miscount and "sinks" in self.expected:
            self.expected["sinks"][sorted(self.expected["sinks"])[0]] += 1
        elif args.plant_miscount:
            self.expected["received"] += 1
        self.op = OPS[args.workload]

    def run_op(self, spark, last_job=None) -> dict | None:
        out = os.path.join(WORK, "out", f"{self.args.workload}-{os.getpid()}")
        return self.op(spark, self.inp, out, self.expected, self.ledger, last_job)

    def timed(self) -> tuple[dict, dict]:
        t0 = time.perf_counter()
        spark = start_session(self.args.threads)
        warm = self.run_op(spark)  # the warm-up operation is checked too
        setup_s = time.perf_counter() - t0
        runs, measured = [], 0.0
        while warm is not None and (len(runs) < MIN_OPS or measured < self.args.seconds):
            r = self.run_op(spark)
            if r is None:
                break
            runs.append(r)
            measured += r["wall_s"]
        spark.stop()
        op_s = [r["wall_s"] for r in runs]
        metrics = {
            "setup_s": (setup_s, "s"),
            "turns_per_s": (len(runs) * self.inp.turns / measured if measured else 0.0, "1/s"),
            "op_p50_s": (statistics.median(op_s) if op_s else 0.0, "s"),
        }
        return metrics, {"setup_s": setup_s, "warm_up": warm, "runs": runs}

    def traced(self) -> tuple[dict, dict]:
        from census import Census
        from tracing import Tracer, layered_run, tree_cpu_s
        from workloads import core_pass, run_stream, sink_problems

        args = self.args
        spark = start_session(args.threads)
        census = Census(spark)
        jvm_pid = _jvm_pid(spark)
        m: dict[str, float] = {}
        detail: dict = {}

        # 1. census of one untraced operation of the workload
        mark = census.last_job_id()
        op = self.run_op(spark, census.last_job_id)
        if op is None:
            return m, detail
        c = census.totals([j for j in census.jobs_after(mark) if j <= op["last_job"]])
        m.update(
            {
                "pipeline.spark_jobs": c.jobs,
                "pipeline.spark_stages": c.stages,
                "pipeline.spark_tasks": c.tasks,
                "pipeline.task_run_s": c.task_run_s,
                "pipeline.task_cpu_s": c.task_cpu_s,
                "pipeline.cpu_busy_frac": c.task_run_s / (op["wall_s"] * args.threads),
                "pipeline.shuffle_write_mb": c.shuffle_write_mb,
                "pipeline.spill_mb": c.spill_mb,
                "pipeline.gc_s": c.gc_s,
                "pipeline.processing_s": op["body_s"],
            }
        )

        # 2. streaming drain of the slice, one micro-batch per file
        stream_inp = self.slice(STREAM_FILES)
        mark = census.last_job_id()
        out = os.path.join(WORK, "out", f"stream-{os.getpid()}")
        st = run_stream(spark, stream_inp, out, stream_inp.expected, self.ledger, census.last_job_id)
        if st is None:
            return m, detail
        jobs = [j for j in census.jobs_after(mark) if j <= st["last_job"]]
        dur = st["durations_ms"]

        def med(f) -> float:
            return statistics.median(f(d) for d in dur) / 1e3

        m.update(
            {
                "streaming.batches": len(dur),
                "streaming.rows_per_batch": statistics.mean(st["batch_rows"]),
                "streaming.jobs_per_batch": len(jobs) / len(dur),
                "streaming.add_batch_s": med(lambda d: d.get("addBatch", 0)),
                "streaming.planning_s": med(lambda d: d.get("queryPlanning", 0)),
                "streaming.wal_commit_s": med(
                    lambda d: d.get("walCommit", 0) + d.get("commitOffsets", 0)
                ),
                "streaming.batch_tail_s": med(
                    lambda d: d["triggerExecution"] - d.get("addBatch", 0)
                ),
                "parse.materialize_s": st["latency"].get("parse_latency", 0.0),
            }
        )
        for sink in ("catchall", "logs", "audit", "app-json", "metrics-json"):
            m[f"sink.{sink}.write_s"] = st["latency"].get(f"write_latency.sink_{sink}", 0.0)

        # 3. the group body over the same turns, layer by layer
        tracer = Tracer(spark.sparkContext, f"{args.workload}-s{args.seed}", jvm_pid)
        layered_inp = self.slice(BATCH_FILES)
        layered_out = os.path.join(WORK, "out", f"trace-{os.getpid()}")
        try:
            m.update(layered_run(spark, layered_inp, layered_out, tracer, census))
            self.ledger.record(1, sink_problems(layered_out, layered_inp.expected, "layered"))
        finally:
            shutil.rmtree(layered_out, ignore_errors=True)
        body = sum(d.get("addBatch", 0) for d in dur) / 1e3
        m["trace.overhead_frac"] = tracer.total("group") / body - 1.0

        # 4. the parse+route core at N threads, then at 1 thread
        clock = lambda: tree_cpu_s(jvm_pid)  # noqa: E731
        core = self.core()

        def passes(session, k):
            runs = [core_pass(session, core, core.expected, self.ledger, clock) for _ in range(k)]
            return [w for w, _ in runs], [c for _, c in runs]

        # The JVM is warm here; a fresh session still has to start workers.
        n_walls, n_cpus = passes(spark, 2)
        m["memory.peak_rss_mb"] = _vm_hwm_mb(jvm_pid) + _vm_hwm_mb("self")
        spark = start_session(1)
        warm = self.slice(BATCH_FILES)  # small: only starts the Python worker
        core_pass(spark, warm, warm.expected, self.ledger)
        one_walls, _ = passes(spark, 1)
        spark.stop()
        tn = core.turns / statistics.median(n_walls)
        t1 = core.turns / statistics.median(one_walls)
        m.update(
            {
                "core.t1.turns_per_s": t1,
                "core.tN.turns_per_s": tn,
                "core.scaling_eff": tn / (args.threads * t1),
                "core.cpu_us_per_row": statistics.median(n_cpus) * 1e6 / core.turns,
                "core.cpu_busy_frac": statistics.median(
                    [c / (w * args.threads) for c, w in zip(n_cpus, n_walls)]
                ),
            }
        )
        detail.update(
            op=op, stream=st, spans=tracer.as_rows(), self_s=tracer.self_times(),
            core_tN_walls=n_walls, core_t1_walls=one_walls,
        )
        return m, detail


def _stop_jvm() -> None:
    """Stop Spark and wait for its JVM to exit, so that no process outlives
    the run. The JVM exits when its stdin closes; its Python workers exit
    with it."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = _parse_args(argv)
    args.threads = len(os.sched_getaffinity(0))
    _prepare_env()
    bench = Bench(args)
    ledger = bench.ledger
    try:
        if args.trace:
            values, detail = bench.traced()
            metrics = {k: (v, UNITS[k.rsplit(".", 1)[-1]]) for k, v in values.items()}
        else:
            metrics, detail = bench.timed()
    except Exception:  # report the failure as a result, not a crash
        ledger.crashed(1, f"{args.workload} run")
        metrics, detail = {}, {}
    finally:
        _stop_jvm()
    detail.update(
        workload=args.workload, seed=args.seed, trace=args.trace,
        turns=bench.inp.turns, files=bench.inp.files, fixture_build_s=bench.build_s,
        failures=ledger.failures, wall_s=time.perf_counter() - t_start,
    )
    res_dir = os.path.join(WORK, "results")
    os.makedirs(res_dir, exist_ok=True)
    path = os.path.join(res_dir, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}.json")
    with open(path, "w") as f:
        json.dump(detail, f, indent=1, default=str)
    print(
        f"perfbench: {args.workload} seed={args.seed} turns={bench.inp.turns}"
        f" files={bench.inp.files} fixture_build_s={bench.build_s:.2f}"
        f" detail={os.path.relpath(path, ROOT)}"
    )
    ok = ledger.attempted > 0 and ledger.failed == 0
    print(
        json.dumps(
            {
                "correct": ok,
                "attempted": max(ledger.attempted, 1),
                "failed": ledger.failed if ledger.attempted else 1,
                "metrics": {
                    k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()
                },
            }
        )
    )
    return 0


# Unit of each per-layer metric, by the last dotted part of its name.
UNITS = {
    "spark_jobs": "count", "spark_stages": "count", "spark_tasks": "count",
    "task_run_s": "s", "task_cpu_s": "s", "cpu_busy_frac": "fraction",
    "shuffle_write_mb": "MB", "spill_mb": "MB", "gc_s": "s", "processing_s": "s",
    "batches": "count", "rows_per_batch": "rows", "jobs_per_batch": "count",
    "add_batch_s": "s", "planning_s": "s", "wal_commit_s": "s", "batch_tail_s": "s",
    "materialize_s": "s", "s": "s", "cpu_us_per_row": "us", "ok_frac": "fraction",
    "rows": "rows", "failed_rows": "rows", "write_s": "s", "files": "count",
    "mb": "MB", "shuffle_mb": "MB", "max_task_rows": "rows", "task_skew": "ratio",
    "windows": "count", "turns_per_s": "1/s", "scaling_eff": "fraction",
    "overhead_frac": "fraction", "peak_rss_mb": "MB",
}


if __name__ == "__main__":
    sys.exit(main())
