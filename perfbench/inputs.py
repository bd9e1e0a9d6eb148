"""Seeded benchmark inputs and their reference expectations, cached on disk.

Both kinds of input come from ``punt_spark.fixtures.make_transcripts``,
whose turns always span a fixed 4 days:

* ``slice``: the first ``hours`` hours of each of the 4 days of a
  ``gen_turns`` table. The pipeline commits one file per (hourly route key,
  salt, sink), so a full 4-day span costs ~1500 files per run whatever the
  row count; the slice keeps 4 ts-day chunks but writes ~30× fewer files,
  so one run is short enough to repeat within a benchmark run. Its
  expectation is the full ``reference_impl.run_reference`` result.
* ``full``: all ``gen_turns`` turns, for the parse+route core. Its
  expectation is the number of lines the reference parser accepts.

An input is keyed by (kind, turns, hours, seed, part files): the same key
always yields the same parquet. The expectation is keyed without the file
count, because the layout does not change what the program must produce.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import time
from dataclasses import dataclass


@dataclass(frozen=True)
class Inputs:
    """A prepared input: the fixture directory the program reads (only
    parquet), its turn and part-file counts, and the reference
    expectation."""

    fixture_dir: str
    turns: int
    files: int
    expected: dict
    build_s: float  # time this call spent building fixture + expectation

    @property
    def transcripts(self) -> str:
        return os.path.join(self.fixture_dir, "transcripts.parquet")


@functools.lru_cache(maxsize=2)
def _generated(gen_turns: int, seed: int):
    """The generated table, shared by the layouts built in one process;
    callers must not modify it."""
    from punt_spark.fixtures import make_transcripts

    return make_transcripts(gen_turns, seed)


def _rows(gen_turns: int, hours: int | None, seed: int):
    pdf = _generated(gen_turns, seed)
    if hours is not None:
        pdf = pdf[pdf["ts"].dt.hour < hours].reset_index(drop=True)
    return pdf


def _write_fixture(path: str, pdf, files: int) -> None:
    from punt_spark.fixtures import lookup_role_pdf, lookup_tool_pdf, routes_pdf

    tdir = os.path.join(path, "transcripts.parquet")
    os.makedirs(tdir)
    step = (len(pdf) + files - 1) // files
    for i in range(files):
        pdf.iloc[i * step : (i + 1) * step].to_parquet(
            os.path.join(tdir, f"part-{i:04d}.parquet"), index=False
        )
    for name, dim in (
        ("routes", routes_pdf()),
        ("lookup_tool", lookup_tool_pdf()),
        ("lookup_role", lookup_role_pdf()),
    ):
        dim.to_parquet(os.path.join(path, f"{name}.parquet"), index=False)


def _expectation(pdf, full_reference: bool) -> dict:
    from punt_spark.config import default_config
    from punt_spark.fixtures import lookup_role_pdf, lookup_tool_pdf
    from punt_spark.reference_impl import parse_line, run_reference

    cfg = default_config()
    if not full_reference:
        ok = sum(parse_line(t, cfg.reference_year)[1] is None for t in pdf["text"])
        return {"turns": len(pdf), "received": ok}
    rows = pdf.copy()
    rows["ts"] = rows["ts"].astype("datetime64[us]")
    lookups = {
        key: {
            r[key]: {k: r[k] for k in ("category", "risk_code", "coords")}
            for _, r in dim.iterrows()
        }
        for key, dim in (("tool", lookup_tool_pdf()), ("role", lookup_role_pdf()))
    }
    ref = run_reference(rows.to_dict("records"), cfg, lookups)

    def total(prefix: str) -> int:
        return sum(v for k, v in ref["counters"].items() if k.startswith(prefix))

    return {
        "turns": len(pdf),
        "received": total("msgs.received|"),
        "failed": total("msgs.failed|"),
        "sinks": {name: len(r) for name, r in ref["sinks"].items()},
        "errors": len(ref["errors"]),
        "alerts": len(ref["alerts"]),
        "actions": len(ref["actions"]),
    }


def _publish(path: str, build) -> None:
    """Build ``path`` under a temporary name and rename it into place."""
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    build(tmp)
    if os.path.exists(path):  # another process built it first
        if os.path.isdir(tmp):
            shutil.rmtree(tmp)
        else:
            os.remove(tmp)
    else:
        os.replace(tmp, path)


def prepare(
    work_dir: str, gen_turns: int, hours: int | None, seed: int, files: int
) -> Inputs:
    """Return the cached input, building it and its expectation on first
    use. ``hours=None`` keeps the full span (a ``full`` input)."""
    t0 = time.perf_counter()
    key = f"g{gen_turns}_h{hours or 'all'}_s{seed}"
    fixture = os.path.join(work_dir, "inputs", f"{key}_f{files}")
    expect_path = os.path.join(work_dir, "expect", f"{key}.json")
    pdf = None
    if not os.path.exists(fixture):
        pdf = _rows(gen_turns, hours, seed)
        _publish(fixture, lambda p: _write_fixture(p, pdf, files))
    if not os.path.exists(expect_path):
        if pdf is None:
            pdf = _rows(gen_turns, hours, seed)
        expected = _expectation(pdf, full_reference=hours is not None)

        def write(p: str) -> None:
            with open(p, "w") as f:
                json.dump(expected, f)

        _publish(expect_path, write)
    with open(expect_path) as f:
        expected = json.load(f)
    return Inputs(fixture, expected["turns"], files, expected, time.perf_counter() - t0)
