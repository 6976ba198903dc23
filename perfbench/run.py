#!/usr/bin/env python3
"""End-to-end benchmark of ``CdcEngine``: staged change-stream files into a
pre-loaded ``LakeTable``, read back and checked against the pandas oracle.

    python3 perfbench/run.py --workload trickle --seed 1 --seconds 10 --trace 0

Run from the repository root (or any checkout of it). Each run:

1. set-up (``setup_s``): starts a ``local[nproc]`` Spark session, generates
   the seed's events, encodes the backlog into the five wire formats with
   injected garbage lines, builds the base table, computes the oracle, and
   warms the JIT (the base build compiles the parse and merge paths; a
   parse of the backlog and a few reads of the base table do the rest);
2. ingest: copies the base table and drains the backlog through the
   public engine entry point (``run_incremental`` or ``run_stream``), a
   closed loop from one process, with the rate cap pinned so epoch
   boundaries depend only on the input;
3. reads: full-table aggregate scans and point lookups over a seeded key
   set, in whole passes over the keys: ``READ_CYCLES`` of them, and more
   only while fewer than ``--seconds`` have passed since ingest began;
4. the correctness gate (untimed): table equals the oracle, the engine
   parsed every data line, dead-letter count equals the injected garbage,
   the planned epoch count ran, and a replay with the same stream and
   checkpoint commits nothing.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` ingests
untraced, traced and untraced again, each into a fresh copy of the base
table, and reports per-layer metrics:
spans around each layer's public calls, with Spark jobs, task time and
I/O from the status store attributed to the innermost open span. Spans
are written as JSONL under ``.perfbench_out/``.

The last stdout line is the JSON result; the line before it records the
environment (nproc, Spark and Python versions, source revision). The exit
code is 0 only when every correctness check passed.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from contextlib import nullcontext
from dataclasses import dataclass

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# end-to-end metric -> unit (names and units as in BENCHMARK.json)
END_TO_END = {
    "events_per_s": "events/s",
    "epoch_s_p50": "s",
    "write_bytes_per_event": "B/event",
    "read_scan_s": "s",
    "lookup_ms_p50": "ms",
    "ops_ok_frac": "frac",
    "setup_s": "s",
}
SOURCE_ID = "perfbench"
LOOKUP_KEYS = (3, 2, 1)  # hot, cold, absent keys
READ_CYCLES = 2  # whole passes over the lookup keys
SCANS_PER_LOOKUP = 2  # a scan is ~4x cheaper than a lookup and noisier
WARM_UP_SCANS = 2


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ session
def build_spark(work: str, cpus: int):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(2 * cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # the traced run attributes every job; keep them all in the store
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.driver.memory", "2g")
        .config("spark.local.dir", tmp)
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        # a heap sized once: no resizing pauses that differ run to run
        .config("spark.driver.extraJavaOptions", f"-Xms2g -Djava.io.tmpdir={tmp}")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def cpu_steal_s() -> float | None:
    """CPU time the hypervisor gave to other guests so far (Linux only):
    the run-to-run noise a shared host adds."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def environment(cpus: int) -> dict:
    import pyspark

    sha = None  # a checkout without git metadata
    if os.path.exists(os.path.join(ROOT, ".git")):
        try:
            sha = subprocess.run(
                ["git", "-C", ROOT, "rev-parse", "HEAD"],
                capture_output=True, text=True, check=True,
            ).stdout.strip()
        except (OSError, subprocess.CalledProcessError):
            pass
    return {
        "nproc": cpus,
        "spark": pyspark.__version__,
        "python": sys.version.split()[0],
        "git_sha": sha,
    }


# ------------------------------------------------------------------- set-up
def stage(w, seed: int, work: str):
    from nvimagecodec_spark.oracle import apply_events_pandas
    from workloads import Staged, generate, write_backlog, write_base_winners

    events, base, backlog = generate(w, seed)
    stream_dir = os.path.join(work, "stream")
    base_dir = os.path.join(work, "base-stream")
    garbage = write_backlog(w, backlog, stream_dir, seed)
    base_rows = write_base_winners(base, base_dir)
    return Staged(events, backlog, stream_dir, base_dir, garbage, len(backlog),
                  base_rows, apply_events_pandas(events))


def table_schema():
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("conv_id", T.StringType()),
            T.StructField("turn_idx", T.IntegerType()),
            T.StructField("role", T.StringType()),
            T.StructField("text", T.StringType()),
            T.StructField("tool", T.StringType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )


def build_base(spark, st, path: str):
    """The base table: the base segment's winners, one initial-load merge."""
    from nvimagecodec_spark.lakehouse.table import LakeTable
    from nvimagecodec_spark.operators.lww import lww_dedupe
    from nvimagecodec_spark.operators.merge import merge_into
    from nvimagecodec_spark.sources.changelog import ChangeStream
    from workloads import KEY_COLS

    table = LakeTable.create(spark, path, table_schema(), KEY_COLS, bucket_count=8)
    merge_into(table, lww_dedupe(ChangeStream(spark, st.base_stream_dir).events()))
    return table


def engine_config(w):
    from nvimagecodec_spark.config import EngineConfig

    return EngineConfig(
        # pinned rate controller: epoch boundaries depend only on input
        target_batch_events=w.batch_events,
        min_batch_events=w.batch_events,
        max_batch_events=w.batch_events,
        expire_every_epochs=w.expire_every_epochs,
        keep_snapshots=w.keep_snapshots,
    )


# ------------------------------------------------------------------- ingest
@dataclass
class Ingest:
    table: object
    engine: object
    wall: float
    commits: list  # time.time() of each committed epoch
    epochs: int
    bytes_written: int


def data_files(table_path: str) -> dict[str, int]:
    out = {}
    for d, _dirs, files in os.walk(os.path.join(table_path, "data")):
        for fn in files:
            if fn.endswith(".parquet"):
                p = os.path.join(d, fn)
                out[p] = os.path.getsize(p)
    return out


def drain(spark, engine, w, stream_dir: str) -> int:
    """Drain a staged backlog through the workload's entry point."""
    from nvimagecodec_spark.sources.changelog import ChangeStream

    if w.mode == "stream":
        return engine.run_stream(stream_dir, max_files_per_trigger=1)
    return engine.run_incremental(ChangeStream(spark, stream_dir))


def ingest(spark, w, stream_dir: str, base_path: str, run_dir: str, tracer=None) -> Ingest:
    from nvimagecodec_spark.lakehouse.table import LakeTable
    from nvimagecodec_spark.streaming.engine import CdcEngine

    tpath = os.path.join(run_dir, "table")
    shutil.copytree(base_path, tpath)
    table = LakeTable.load(spark, tpath)
    before = data_files(tpath)
    added: dict[str, int] = {}
    commits: list[float] = []

    def post_epoch(_engine, _batch_id):
        commits.append(time.time())
        # data files an epoch adds; walked per epoch because snapshot
        # expiry deletes replaced files before the run ends
        for p, size in data_files(tpath).items():
            if p not in before:
                added[p] = size

    engine = CdcEngine(
        spark, table, source_id=SOURCE_ID, config=engine_config(w),
        post_epoch=post_epoch,
    )
    t0 = time.time()
    with tracer or nullcontext():
        n = drain(spark, engine, w, stream_dir)
    wall = time.time() - t0
    return Ingest(table, engine, wall, commits, n, sum(added.values()))


def tamper(spark, ing: Ingest, st, work: str) -> None:
    """Alter one live row through a normal merge (self-test of the gate)."""
    from nvimagecodec_spark.operators.lww import lww_dedupe
    from nvimagecodec_spark.operators.merge import merge_into
    from nvimagecodec_spark.sources.changelog import ChangeStream
    from nvimagecodec_spark.sources.generator import encode_row

    row = st.oracle.iloc[0]
    ev = {
        "op": "U", "lsn": int(st.events["lsn"].max()) + 2,
        "commit_ts": pd.Timestamp("2030-01-01"), "conv_id": row["conv_id"],
        "turn_idx": float(row["turn_idx"]), "version": 99, "rating": float("nan"),
        "renamed": "tool_name" in st.oracle.columns, "schema_change": None,
    }
    d = os.path.join(work, "tamper")
    os.makedirs(d)
    with open(os.path.join(d, "t.jsonl"), "w") as f:
        f.write(encode_row(ev, "jsonl") + "\n")
    merge_into(ing.table, lww_dedupe(ChangeStream(spark, d).events()))


# ------------------------------------------------------------ correctness
def _norm(v):
    if v is None or v is pd.NaT or (isinstance(v, float) and math.isnan(v)):
        return None
    if hasattr(v, "strftime"):  # pandas or datetime timestamp
        return v.strftime("%Y-%m-%d %H:%M:%S")
    if isinstance(v, float) and v.is_integer():
        return int(v)
    if hasattr(v, "item"):  # numpy scalar
        return v.item()
    return v


def canon(pdf) -> tuple[list, list]:
    cols = sorted(pdf.columns)
    rows = [tuple(_norm(v) for v in r) for r in pdf[cols].itertuples(index=False)]
    ki, ti = cols.index("conv_id"), cols.index("turn_idx")
    return cols, sorted(rows, key=lambda r: (r[ki], r[ti]))


def gate(spark, w, st, ing: Ingest, planned: int) -> list[str]:
    """Every failed correctness check, as text (empty: correct)."""
    from nvimagecodec_spark.streaming.engine import CdcEngine
    from nvimagecodec_spark.sources.changelog import ChangeStream

    fails = []
    if ing.epochs != planned or len(ing.commits) != planned:
        fails.append(f"epochs: ran {ing.epochs}, committed {len(ing.commits)}, planned {planned}")
    table = ing.table.refresh()
    if canon(table.read_logical().toPandas()) != canon(st.oracle):
        fails.append("final table differs from the pandas oracle")
    # the engine's own line accounting, from the run's lineage records
    recs = ing.engine.lineage()
    parsed = sum(p["rows"] for r in recs for p in r["partitions"])
    events = sum(r["events"] for r in recs)
    data_events = int((st.backlog["op"] != "S").sum())
    if any(r["partitions_truncated"] for r in recs):
        fails.append("lineage truncated its per-file counts")
    if parsed != st.stream_lines or events != data_events:
        fails.append(f"engine parsed {parsed} lines ({events} data events), "
                     f"staged {st.stream_lines} ({data_events})")
    if w.mode == "stream":
        # streaming epochs hand unparseable lines to the engine, which counts them
        dead = sum(r["dead_letters"] for r in recs)
    else:
        # LSN slices hold parsed lines only, so the engine never sees the
        # rest: this counts them with the stream's own detector (a check of
        # the staged files; the parsed-line count above checks the engine)
        dead = ChangeStream(spark, st.stream_dir).dead_letters().count()
    if dead != st.garbage_lines:
        fails.append(f"dead letters: counted {dead}, injected {st.garbage_lines}")
    snap = table.current_snapshot().snapshot_id
    replay = CdcEngine(spark, table, source_id=SOURCE_ID, config=engine_config(w))
    drain(spark, replay, w, st.stream_dir)
    if table.refresh().current_snapshot().snapshot_id != snap:
        fails.append("replay with the same stream and checkpoint committed a snapshot")
    return fails


# -------------------------------------------------------------------- reads
def lookup_keys(st, seed: int) -> list[tuple[str, int, str | None]]:
    """(conv_id, turn_idx, expected text or None): the most-written keys,
    seeded random live keys, and keys the table never held."""
    import numpy as np

    from workloads import KEY_COLS

    n_hot, n_cold, n_absent = LOOKUP_KEYS
    live = {(r.conv_id, int(r.turn_idx)): r.text for r in st.oracle.itertuples(index=False)}
    data = st.events[st.events["op"] != "S"]
    hot = data.groupby(KEY_COLS).size().sort_values(ascending=False, kind="stable")
    keys = [(c, int(t)) for c, t in hot.index[:n_hot]]
    rng = np.random.default_rng(seed + 11)
    ordered = sorted(live)
    keys += [ordered[i] for i in rng.choice(len(ordered), size=n_cold, replace=False)]
    keys += [(f"conv-absent-{i}", i) for i in range(n_absent)]
    return [(c, t, live.get((c, t))) for c, t in keys]


def read_scan(table, expect_rows: int) -> tuple[float, bool]:
    from pyspark.sql import functions as F

    t = time.perf_counter()
    df = table.read_logical()
    # the hash makes the scan read and decode every column
    r = df.select(F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64(*df.columns)).alias("h")).first()
    return time.perf_counter() - t, r["n"] == expect_rows


def lookup(table, key) -> tuple[float, bool]:
    conv, turn, text = key
    t = time.perf_counter()
    rows = table.lookup(conv_id=conv, turn_idx=turn).collect()
    ms = (time.perf_counter() - t) * 1000.0
    ok = [r["text"] for r in rows] == ([] if text is None else [text])
    return ms, ok


def read_cycles(table, st, keys: list, deadline: float) -> tuple[list, list, int]:
    """Scan and lookup latencies, and the failed reads among them. Whole
    passes over the key set, so every run looks up the same mix of hot,
    cold and absent keys; scans interleave with lookups, so a burst of
    host contention lands on a few samples of each kind."""
    scans, lookups, failed = [], [], 0
    cycles = 0
    while cycles < READ_CYCLES or time.time() < deadline:
        for key in keys:
            for _ in range(SCANS_PER_LOOKUP):
                s, ok = read_scan(table, len(st.oracle))
                scans.append(s)
                failed += not ok
            ms, ok = lookup(table, key)
            lookups.append(ms)
            failed += not ok
        cycles += 1
    return scans, lookups, failed


def warm_up(spark, st, base_path: str) -> None:
    """Compile what the base build did not: the parsers of all five wire
    formats (one pass over the backlog), and the read paths (scans and a
    lookup of the base table, which they leave unchanged). There is no
    warm-up ingest: draining a tiny backlog through the engine costs ~15 s
    and saves ~2.5 s on the measured first epoch, which epoch_s_p50 leaves
    out anyway."""
    from nvimagecodec_spark.lakehouse.table import LakeTable
    from nvimagecodec_spark.sources.changelog import ChangeStream

    ChangeStream(spark, st.stream_dir).events().groupBy("op").count().collect()
    table = LakeTable.load(spark, base_path)
    for _ in range(WARM_UP_SCANS):
        read_scan(table, -1)
    lookup(table, ("conv-absent", 0, None))


# -------------------------------------------------------------------- runs
def run_workload(spark, w, seed: int, seconds: float, trace: bool, work: str,
                 t_setup: float, warm: bool = True, corrupt: bool = False,
                 spans_path: str | None = None) -> tuple[dict, dict]:
    from tracing import PER_LAYER_UNITS, Tracer, collect_jobs, last_job_id
    from workloads import epoch_batch_rows, planned_epochs

    phases = {}
    tick = t_setup

    def phase(name):
        nonlocal tick
        now = time.perf_counter()
        phases[name] = now - tick
        tick = now

    phase("session")
    st = stage(w, seed, os.path.join(work, "stage"))
    phase("stage")
    base_path = os.path.join(work, "base")
    build_base(spark, st, base_path)
    phase("base")
    if warm:
        warm_up(spark, st, base_path)
        phase("warm_up")
    planned = planned_epochs(w, st.backlog)
    if planned < 2:
        raise ValueError(f"{w.name}: {planned} epoch(s) planned; epoch_s_p50 needs two")
    base_rows = st.base_rows
    batch_rows = epoch_batch_rows(w, st.backlog)
    if w.min_table_to_batch and base_rows < w.min_table_to_batch * batch_rows:
        raise ValueError(f"{w.name}: base {base_rows} rows < {w.min_table_to_batch}x batch {batch_rows}")
    setup_s = time.perf_counter() - t_setup
    info = {"workload": w.name, "seed": seed, "setup_s": setup_s, "planned_epochs": planned,
            "base_rows": base_rows, "max_batch_rows": batch_rows,
            "stream_lines": st.stream_lines, "garbage_lines": st.garbage_lines,
            "oracle_rows": len(st.oracle)}
    attempted = failed = 0
    fails: list[str] = []

    def checked(ing: Ingest, label: str):
        nonlocal attempted, failed
        if corrupt:
            tamper(spark, ing, st, os.path.join(work, label))
        f = gate(spark, w, st, ing, planned)
        attempted += ing.epochs + 1
        failed += bool(f)
        fails.extend(f"{label}: {x}" for x in f)

    plain = ingest(spark, w, st.stream_dir, base_path, os.path.join(work, "plain"))
    info["ingest_s"] = plain.wall
    phase("ingest")
    if not trace:
        deadline = time.time() - plain.wall + seconds  # --seconds from ingest start
        scans, lookups, bad = read_cycles(plain.table, st, lookup_keys(st, seed), deadline)
        attempted += len(scans) + len(lookups)
        failed += bad
        info.update(scans=len(scans), lookups=len(lookups))
        phase("reads")
        checked(plain, "plain")
        # from the first commit on: the first epoch also pays for planning
        # (run_incremental) or the query start (run_stream)
        gaps = [b - a for a, b in zip(plain.commits, plain.commits[1:])]
        info["epoch_gaps_s"] = gaps
        values = {
            "events_per_s": st.stream_lines / plain.wall,
            "epoch_s_p50": statistics.median(gaps),
            "write_bytes_per_event": plain.bytes_written / st.stream_lines,
            "read_scan_s": statistics.median(scans),
            "lookup_ms_p50": statistics.median(lookups),
            "ops_ok_frac": 1.0 - failed / attempted,
            "setup_s": setup_s,
        }
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}
    else:
        checked(plain, "plain")
        sc = spark.sparkContext
        first = last_job_id(sc)
        tracer = Tracer()
        traced = ingest(spark, w, st.stream_dir, base_path, os.path.join(work, "traced"),
                        tracer=tracer)
        jobs = collect_jobs(sc, first)
        checked(traced, "traced")
        # the overhead is against an untraced ingest run after the traced
        # one, not against the first: the JIT is still compiling through the
        # first ingest, which runs markedly slower than the next. The JVM warms
        # a little further from the traced ingest to the next, so the ratio
        # errs high.
        plain2 = ingest(spark, w, st.stream_dir, base_path, os.path.join(work, "plain2"))
        checked(plain2, "plain2")
        if spans_path:
            tracer.write_jsonl(spans_path)
        values = tracer.report(jobs, first, traced.epochs, st.stream_lines)
        values["trace.overhead_frac"] = traced.wall / plain2.wall - 1.0
        info.update(traced_ingest_s=traced.wall, plain2_ingest_s=plain2.wall,
                    span_self_sum_s=sum(tracer.self_times().values()))
        metrics = {k: {"value": values[k], "unit": u} for k, u in PER_LAYER_UNITS.items()}
    phase("gate")
    info["phases"] = phases
    info["failures"] = fails
    result = {"correct": not fails, "attempted": attempted, "failed": failed, "metrics": metrics}
    return result, info


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")
    # executor Python workers import the package too: export its path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ.setdefault("PYARROW_IGNORE_TIMEZONE", "1")
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(work)
    os.makedirs(out, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    cpus = len(os.sched_getaffinity(0))
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    steal0 = cpu_steal_s()
    try:
        t_setup = time.perf_counter()
        spark = build_spark(work, cpus)
        try:
            result, info = run_workload(
                spark, WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace),
                work, t_setup, spans_path=os.path.join(out, f"spans-{tag}.jsonl"),
            )
        finally:
            stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    info.update(environment(cpus))
    if steal0 is not None:
        info["cpu_steal_s"] = cpu_steal_s() - steal0
    with open(os.path.join(out, f"result-{tag}.json"), "w") as f:
        json.dump({"info": info, "result": result}, f, indent=1)
    for msg in info["failures"]:
        log(f"correctness failure: {msg}")
    print(json.dumps(info), flush=True)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
