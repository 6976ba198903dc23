"""Workload definitions and staging for the CdcEngine benchmark.

A workload is a base table plus a staged backlog of change-stream files.
Both come from ONE ``generate_change_events`` frame per seed, split at an
LSN: events at or below the cut are folded into the base table during
set-up, the rest are encoded into the backlog files the engine drains.
Every backlog event's LSN is above every base event's, so the pandas
oracle over the whole frame is the expected final table.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, replace

import numpy as np
import pandas as pd

from nvimagecodec_spark.sources.generator import (
    SCHEMA_EVENT_PLAN,
    encode_row,
    generate_change_events,
)

# the five wire formats, cycled over the backlog files like events_to_files
ENCODINGS = ["jsonl", "dbz", "cdcb", "tsv", "avro"]
KEY_COLS = ["conv_id", "turn_idx"]


@dataclass(frozen=True)
class Workload:
    name: str
    mode: str  # "incremental" (run_incremental) or "stream" (run_stream)
    base_events: int  # generated events folded into the base table
    backlog_events: int  # generated events staged as backlog files
    files: int  # backlog files; one run_stream epoch each in stream mode
    batch_events: int  # pinned rate-controller cap (incremental mode)
    n_convs: int | None = None  # conversation count (None: generator default)
    garbage_per_file: int = 0  # unparseable lines injected per backlog file
    # backlog fractions at which SCHEMA_EVENT_PLAN's add, rename and widen
    # land (empty: no schema events)
    schema_at: tuple[float, ...] = ()
    expire_every_epochs: int = 0
    keep_snapshots: int = 20
    min_table_to_batch: float = 0.0  # asserted: base rows / epoch batch rows

    def tiny(self) -> "Workload":
        """Same shape at a fraction of the size, for self-tests (too small
        for the table-to-batch ratio, which is not asserted)."""
        f = 8
        return replace(
            self,
            base_events=max(self.base_events // f, 200),
            backlog_events=max(self.backlog_events // f, 200),
            batch_events=max(self.batch_events // f, 100),
            n_convs=self.n_convs // f if self.n_convs else None,
            garbage_per_file=min(self.garbage_per_file, 2),
            min_table_to_batch=0.0,
        )


WORKLOADS = {
    w.name: w
    for w in [
        Workload(
            name="trickle",
            mode="stream",
            base_events=1_500,
            backlog_events=600,
            files=4,
            batch_events=600,
            expire_every_epochs=1,
            keep_snapshots=2,
        ),
        Workload(
            name="large_table",
            mode="incremental",
            base_events=15_000,
            backlog_events=1_000,
            files=5,
            batch_events=270,
            n_convs=7_500,
            garbage_per_file=2,
            # all in the first epoch: it re-extracts, the later epochs are
            # alike, so their median commit gap is steady
            schema_at=(0.02, 0.04, 0.06),
            min_table_to_batch=20.0,
        ),
    ]
}


@dataclass
class Staged:
    """Everything set-up builds for one (workload, seed)."""

    events: pd.DataFrame  # the whole generated frame, delivery order
    backlog: pd.DataFrame  # events encoded into the backlog files
    stream_dir: str
    base_stream_dir: str
    garbage_lines: int
    stream_lines: int  # backlog lines a format parses (garbage excluded)
    base_rows: int
    oracle: pd.DataFrame


def generate(w: Workload, seed: int) -> tuple[pd.DataFrame, pd.DataFrame, pd.DataFrame]:
    n = w.base_events + w.backlog_events
    cut = w.base_events / n
    # the plan's positions are fractions of the whole frame: map the
    # backlog fractions past the cut so the events reach the engine
    plan = [(cut + (1 - cut) * f, c) for f, (_, c) in zip(w.schema_at, SCHEMA_EVENT_PLAN)]
    events = generate_change_events(
        n_events=n,
        n_convs=w.n_convs,
        seed=seed,
        with_schema_events=bool(plan),
        schema_plan=plan or None,
    )
    cut_lsn = 2 * w.base_events  # data events take LSNs 2, 4, 6, ...
    base = events[events["lsn"] <= cut_lsn]
    backlog = events[events["lsn"] > cut_lsn]
    return events, base, backlog


def _garbage_line(rng: np.random.Generator) -> str:
    # no registered format claims a line starting with '#'
    return "#corrupt " + rng.bytes(12).hex()


def write_backlog(w: Workload, backlog: pd.DataFrame, out_dir: str, seed: int) -> int:
    """Encode the backlog into ``w.files`` files cycling the five formats,
    with ``garbage_per_file`` unparseable lines at seeded positions.
    Returns the number of garbage lines written."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed + 7)
    garbage = 0
    for i, idx in enumerate(np.array_split(np.arange(len(backlog)), w.files)):
        enc = ENCODINGS[i % len(ENCODINGS)]
        lines = [encode_row(r, enc) for r in backlog.iloc[idx].to_dict("records")]
        for pos in sorted(rng.integers(0, len(lines) + 1, size=w.garbage_per_file))[::-1]:
            lines.insert(int(pos), _garbage_line(rng))
            garbage += 1
        with open(os.path.join(out_dir, f"part-{i:05d}.{enc}"), "w") as f:
            f.write("\n".join(lines) + "\n")
    return garbage


def write_base_winners(base: pd.DataFrame, out_dir: str) -> int:
    """Stage the base table's content: one JSON line per live key, the
    key's last-writer-wins event. Returns the row count."""
    os.makedirs(out_dir, exist_ok=True)
    data = base[base["op"] != "S"].sort_values("lsn", kind="stable")
    won = data.drop_duplicates(KEY_COLS, keep="last")
    live = won[won["op"] != "D"]
    with open(os.path.join(out_dir, "base.jsonl"), "w") as f:
        for r in live.to_dict("records"):
            f.write(encode_row(r, "jsonl") + "\n")
    return len(live)


def planned_epochs(w: Workload, backlog: pd.DataFrame) -> int:
    """The epoch count the engine must plan with its rate cap pinned.

    Stream mode: one epoch per file (``max_files_per_trigger=1``).
    Incremental mode: ``run_incremental``'s documented rule — event counts
    per LSN chunk of width ``max(1, (top - last) // 10_000)`` from a start
    of -1, whole chunks accumulated while they fit the cap."""
    if w.mode == "stream":
        return w.files
    lsn = backlog["lsn"].to_numpy(dtype=np.int64)
    top, last = int(lsn.max()), -1
    g = max(1, (top - last) // 10_000)
    chunks = pd.Series((lsn - 1) // g).value_counts().sort_index()
    epochs, acc = 0, 0
    for n in chunks.to_numpy():
        if acc and acc + n > w.batch_events:
            epochs += 1
            acc = 0
        acc += int(n)
    return epochs + (1 if acc else 0)


def epoch_batch_rows(w: Workload, backlog: pd.DataFrame) -> int:
    """Largest deduped data-row count over the backlog's planned epochs
    (approximated by consecutive LSN ranges of ``batch_events`` events)."""
    data = backlog[backlog["op"] != "S"].sort_values("lsn", kind="stable")
    step = max(w.batch_events, 1)
    return max(
        len(data.iloc[i : i + step].drop_duplicates(KEY_COLS))
        for i in range(0, len(data), step)
    )
