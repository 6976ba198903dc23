#!/usr/bin/env python3
"""Self-tests of the benchmark itself, on tiny workloads (a few minutes):

    python3 perfbench/selftest.py

Checks, per workload: a tiny run passes the correctness gate and prints
every end-to-end metric of BENCHMARK.json with its unit; a traced run
prints every per-layer metric with its unit, its span self-times sum to
the traced ingest wall within SELF_TIME_TOLERANCE, it shows the
workload's heavy layer, and its job and input-record counts repeat
exactly in a second traced run. Also: a run whose table had one row
altered fails the gate.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]
os.environ["PYTHONPATH"] = os.pathsep.join(
    [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
)

import run  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# |sum of span self-times - traced ingest wall| must stay within this
# share of the wall (plus 20 ms for the wrappers' own bookkeeping)
SELF_TIME_TOLERANCE = 0.01
SEED = 5


def check(cond: bool, msg: str, failures: list[str]) -> None:
    print(("ok   " if cond else "FAIL ") + msg, flush=True)
    if not cond:
        failures.append(msg)


def declared(section: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


def printed_units(result: dict) -> dict[str, str]:
    return {k: v["unit"] for k, v in result["metrics"].items()}


def counts(result: dict) -> dict[str, float]:
    return {k: v["value"] for k, v in result["metrics"].items()
            if k.endswith((".jobs", ".input_records", ".calls"))}


def test_workload(spark, name: str, work: str, failures: list[str]) -> None:
    w = WORKLOADS[name].tiny()
    d = os.path.join(work, name)

    res, info = run.run_workload(spark, w, SEED, 1, False, d + "-plain",
                                 time.perf_counter(), warm=False)
    check(res["correct"], f"{name}: tiny run passes the gate {info['failures']}", failures)
    check(printed_units(res) == declared("end_to_end"),
          f"{name}: every end-to-end metric printed with its unit", failures)
    check(all(v["value"] > 0 for v in res["metrics"].values()),
          f"{name}: end-to-end metrics are positive", failures)

    traced = []
    for i in range(2):
        res, info = run.run_workload(spark, w, SEED, 1, True, f"{d}-traced{i}",
                                     time.perf_counter(), warm=False)
        traced.append(res)
        check(res["correct"], f"{name}: traced run {i} passes the gate", failures)
        wall, selfs = info["traced_ingest_s"], info["span_self_sum_s"]
        check(abs(wall - selfs) <= SELF_TIME_TOLERANCE * wall + 0.02,
              f"{name}: span self-times {selfs:.3f}s sum to the ingest wall {wall:.3f}s",
              failures)
    check(printed_units(traced[0]) == declared("per_layer"),
          f"{name}: every per-layer metric printed with its unit", failures)
    check(counts(traced[0]) == counts(traced[1]),
          f"{name}: call, job and input-record counts repeat exactly", failures)
    m = {k: v["value"] for k, v in traced[0]["metrics"].items()}
    check(m["streaming.unattributed_jobs"] == 0, f"{name}: every job attributed", failures)
    if w.mode == "stream":
        check(m["sources.lsn_counts.calls"] == 0 and m["streaming.run_stream.calls"] == 1,
              f"{name}: no planning pre-pass under run_stream", failures)
        check(m["lakehouse.expire_snapshots.calls"] >= 2,
              f"{name}: snapshot expiry ran at least twice", failures)
    else:
        check(m["sources.lsn_counts.calls"] == 1 and m["sources.lsn_counts.jobs"] > 0,
              f"{name}: the planning pre-pass ran", failures)
    check((m["operators.reextract_payloads.calls"] > 0) == bool(w.schema_at),
          f"{name}: re-extraction runs exactly when the stream has schema events", failures)
    check(m["operators.merge_into.strategy.broadcast"] > 0,
          f"{name}: epochs take the broadcast merge", failures)


def test_tamper(spark, work: str, failures: list[str]) -> None:
    w = WORKLOADS["trickle"].tiny()
    res, info = run.run_workload(spark, w, SEED, 1, False, os.path.join(work, "tamper"),
                                 time.perf_counter(), warm=False, corrupt=True)
    check(not res["correct"] and res["failed"] >= 1
          and any("oracle" in f for f in info["failures"]),
          "a table with one altered row fails the gate", failures)


def main() -> int:
    work = os.path.join(ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    failures: list[str] = []
    try:
        spark = run.build_spark(work, len(os.sched_getaffinity(0)))
        try:
            for name in WORKLOADS:
                test_workload(spark, name, work, failures)
            test_tamper(spark, work, failures)
        finally:
            run.stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(f"{len(failures)} failure(s)" if failures else "all self-tests passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
