"""Work ledger: roll a Spark event log up per job description.

Standard library only, so it runs anywhere the log can be copied to.
Reads the rolling layout Spark 4 writes (``eventlog_v2_<app>/events_<n>_<app>``,
uncompressed) as well as a single plain event-log file.  A job's
description comes from the ``spark.job.description`` property of its
``SparkListenerJobStart`` event; every task of the job's stages is charged
to that description.

Usage::

    python perfbench/ledger.py <event-log dir or file>
"""

from __future__ import annotations

import json
import os
import re
import sys
from dataclasses import dataclass, field

NO_DESCRIPTION = "(none)"


@dataclass
class Work:
    """Counters summed over every job that carried one description."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    task_run_s: float = 0.0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_records_written: int = 0
    spill_mb: float = 0.0
    peak_exec_mb: float = 0.0
    wall_s: float = 0.0  # union of the jobs' submit→end intervals
    _intervals: list[tuple[int, int]] = field(default_factory=list, repr=False)

    def as_dict(self) -> dict[str, float]:
        return {k: v for k, v in self.__dict__.items() if not k.startswith("_")}


def event_files(path: str) -> list[str]:
    """The event files of one application, in write order.

    ``path`` is a plain event-log file, a rolling ``eventlog_v2_*``
    directory, or a directory holding exactly one of either."""
    if os.path.isfile(path):
        return [path]
    names = os.listdir(path)
    rolled = [n for n in names if re.fullmatch(r"events_\d+_.+", n)]
    if rolled:
        rolled.sort(key=lambda n: int(n.split("_")[1]))
        return [os.path.join(path, n) for n in rolled]
    apps = [n for n in names if not n.startswith(".")]
    if len(apps) != 1:
        raise ValueError(f"{path}: expected one application log, found {sorted(apps)}")
    return event_files(os.path.join(path, apps[0]))


def read_events(path: str):
    """Yield the JSON events of one application log.  A torn last line
    (the log of a running application) is skipped; a torn line anywhere
    else is an error."""
    for fname in event_files(path):
        with open(fname, encoding="utf-8") as f:
            lines = f.read().split("\n")
        for i, line in enumerate(lines):
            if not line.strip():
                continue
            try:
                yield json.loads(line)
            except json.JSONDecodeError:
                if i != len(lines) - 1:
                    raise
                return


def _union_s(intervals: list[tuple[int, int]]) -> float:
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1000.0


def ledger(path: str) -> dict[str, Work]:
    """Description → Work for every job in the log at ``path``."""
    stage_desc: dict[int, str] = {}
    job_desc: dict[int, str] = {}
    job_start: dict[int, int] = {}
    out: dict[str, Work] = {}
    for e in read_events(path):
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            desc = (e.get("Properties") or {}).get("spark.job.description") or NO_DESCRIPTION
            w = out.setdefault(desc, Work())
            w.jobs += 1
            job_desc[e["Job ID"]] = desc
            job_start[e["Job ID"]] = e["Submission Time"]
            for sid in e.get("Stage IDs", []):
                stage_desc[sid] = desc
        elif kind == "SparkListenerJobEnd":
            jid = e["Job ID"]
            if jid in job_start:
                out[job_desc[jid]]._intervals.append((job_start[jid], e["Completion Time"]))
        elif kind == "SparkListenerStageCompleted":
            sid = e["Stage Info"]["Stage ID"]
            out.setdefault(stage_desc.get(sid, NO_DESCRIPTION), Work()).stages += 1
        elif kind == "SparkListenerTaskEnd":
            w = out.setdefault(stage_desc.get(e["Stage ID"], NO_DESCRIPTION), Work())
            w.tasks += 1
            if (e.get("Task End Reason") or {}).get("Reason") != "Success":
                w.failed_tasks += 1
            m = e.get("Task Metrics") or {}
            w.task_run_s += m.get("Executor Run Time", 0) / 1e3
            w.task_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            w.gc_s += m.get("JVM GC Time", 0) / 1e3
            w.spill_mb += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / 1e6
            w.peak_exec_mb = max(w.peak_exec_mb, m.get("Peak Execution Memory", 0) / 1e6)
            r = m.get("Shuffle Read Metrics") or {}
            w.shuffle_read_mb += (r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)) / 1e6
            sw = m.get("Shuffle Write Metrics") or {}
            w.shuffle_write_mb += sw.get("Shuffle Bytes Written", 0) / 1e6
            w.shuffle_records_written += sw.get("Shuffle Records Written", 0)
    for w in out.values():
        w.wall_s = _union_s(w._intervals)
    return out


def format_table(rows: dict[str, Work]) -> str:
    cols = ["jobs", "stages", "tasks", "wall_s", "task_run_s", "task_cpu_s",
            "gc_s", "shuffle_write_mb", "spill_mb"]
    lines = ["\t".join(["description"] + cols)]
    for desc in sorted(rows):
        d = rows[desc].as_dict()
        lines.append("\t".join([desc] + [f"{d[c]:.3f}" if isinstance(d[c], float) else str(d[c]) for c in cols]))
    return "\n".join(lines)


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    print(format_table(ledger(argv[1])))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
