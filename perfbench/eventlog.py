"""Spark event-log roll-up: task metrics attributed to benchmark phases.

The traced run starts its session with a local, uncompressed, single-file
event log. After the session stops, :func:`rollup` reads it back and
assigns every job to a phase in one of two ways:

- a job whose ``spark.scheduler.pool`` property is ``write-<table>`` is a
  state-table write (the epoch's write pool sets it per table);
- any other job belongs to the innermost benchmark window that contains
  its submission time. Windows come from the spans the benchmark recorded
  and from the ``phase_walls`` each epoch returns.

Source line numbers are never used: they move whenever the engine is
edited. Task time whose job falls in no window is reported as
unattributed.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import defaultdict
from dataclasses import dataclass, field

METRICS = (
    "task_s", "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "gc_s",
)


def eventlog_conf(log_dir: str) -> dict[str, str]:
    """Session settings for a plain-JSON, single-file local event log."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


@dataclass(frozen=True)
class Window:
    label: str      # phase the jobs inside it belong to
    op: str         # the closed-loop operation it is part of
    start: float    # seconds since the epoch, like time.time()
    end: float


@dataclass
class PhaseStats:
    tasks: int = 0
    task_s: float = 0.0
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    gc_s: float = 0.0
    stage_durations: dict[int, list[float]] = field(
        default_factory=lambda: defaultdict(list)
    )

    @property
    def skew(self) -> float:
        """Largest max/median task duration over the phase's stages that
        ran at least two tasks (1.0 when none did)."""
        worst = 1.0
        for durs in self.stage_durations.values():
            if len(durs) >= 2:
                med = statistics.median(durs)
                if med > 0:
                    worst = max(worst, max(durs) / med)
        return worst


@dataclass
class OpStats:
    jobs: int = 0
    job_intervals: list[tuple[float, float]] = field(default_factory=list)
    busy_s: float = 0.0

    def covered_s(self, start: float, end: float) -> float:
        """Length of the union of job intervals, clipped to [start, end]."""
        total, cur_s, cur_e = 0.0, None, None
        for s, e in sorted(self.job_intervals):
            s, e = max(s, start), min(e, end)
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    total += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            total += cur_e - cur_s
        return total


@dataclass
class Rollup:
    phases: dict[str, PhaseStats]
    ops: dict[str, OpStats]
    unattributed: PhaseStats

    @property
    def total_task_s(self) -> float:
        return self.unattributed.task_s + sum(
            p.task_s for p in self.phases.values()
        )


def _events(log_dir: str):
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {paths}")
    with open(paths[0]) as f:
        for line in f:
            yield json.loads(line)


def _locate(windows: list[Window], t: float) -> Window | None:
    """Innermost (shortest) window containing t."""
    best = None
    for w in windows:
        if w.start <= t <= w.end and (
            best is None or w.end - w.start < best.end - best.start
        ):
            best = w
    return best


def rollup(log_dir: str, windows: list[Window]) -> Rollup:
    stage_job: dict[int, int] = {}
    job_phase: dict[int, str | None] = {}
    job_op: dict[int, str | None] = {}
    job_submit: dict[int, float] = {}
    phases: dict[str, PhaseStats] = defaultdict(PhaseStats)
    ops: dict[str, OpStats] = defaultdict(OpStats)
    unattributed = PhaseStats()
    for ev in _events(log_dir):
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            jid, t = ev["Job ID"], ev["Submission Time"] / 1000.0
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
            w = _locate(windows, t)
            pool = (ev.get("Properties") or {}).get("spark.scheduler.pool") or ""
            if pool.startswith("write-"):
                job_phase[jid] = "write." + pool[len("write-"):]
            else:
                job_phase[jid] = w.label if w else None
            job_op[jid] = w.op if w else None
            job_submit[jid] = t
            if w:
                ops[w.op].jobs += 1
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            op = job_op.get(jid)
            if op is not None:
                ops[op].job_intervals.append(
                    (job_submit[jid], ev["Completion Time"] / 1000.0)
                )
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics")
            if not m:
                continue
            info = ev["Task Info"]
            jid = stage_job.get(ev["Stage ID"])
            label = job_phase.get(jid) if jid is not None else None
            ps = phases[label] if label else unattributed
            dur = (info["Finish Time"] - info["Launch Time"]) / 1000.0
            rd = m.get("Shuffle Read Metrics", {})
            ps.tasks += 1
            ps.task_s += m.get("Executor Run Time", 0) / 1000.0
            ps.gc_s += m.get("JVM GC Time", 0) / 1000.0
            ps.input_bytes += m.get("Input Metrics", {}).get("Bytes Read", 0)
            ps.shuffle_read_bytes += rd.get("Remote Bytes Read", 0) + rd.get(
                "Local Bytes Read", 0
            )
            ps.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0
            )
            ps.spill_bytes += m.get("Disk Bytes Spilled", 0)
            ps.stage_durations[ev["Stage ID"]].append(dur)
            op = job_op.get(jid) if jid is not None else None
            if op is not None:
                ops[op].busy_s += dur
    return Rollup(dict(phases), dict(ops), unattributed)
