"""Measurement taken from outside the engine.

- :class:`Spans` records named wall-clock intervals around every
  benchmark call in memory and writes them out once, at exit.
- :class:`RssSampler` samples the resident memory of this process and
  every descendant (the Spark driver JVM and the Python workers) from
  ``/proc`` on a background thread and keeps the peak.
- :func:`tree_cpu_s` sums the CPU time of this process and every
  descendant; :func:`steal_frac` is the share of the host's CPU time a
  shared host gave to other guests. A span records both at its ends.
- :func:`catalog_snapshot` walks a catalog directory and parses its
  ``manifest.json`` into byte, file and delta-set counts per table.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    live descendant, each with the children it has already reaped: the
    Spark JVM, the Python worker daemon and the workers it forked."""
    kids: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # after the command name: state, ppid, ... utime stime cutime cstime
        kids.setdefault(int(fields[1]), []).append(int(d))
        ticks[int(d)] = sum(int(x) for x in fields[11:15])
    total, stack = 0, [os.getpid()]
    while stack:
        pid = stack.pop()
        total += ticks.get(pid, 0)
        stack.extend(kids.get(pid, ()))
    return total * _TICK_S


def host_cpu_ticks() -> list[int]:
    """The host-wide CPU time counters of ``/proc/stat`` (user, nice,
    system, idle, iowait, irq, softirq, steal, ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of all CPU time between two readings that the hypervisor
    gave to other guests: the time a shared host takes away from a run."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if len(d) > 7 and sum(d) else 0.0


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None = None
    attrs: dict = field(default_factory=dict)
    cpu_start: float = 0.0
    cpu_end: float = 0.0
    host_start: list[int] = field(default_factory=list)   # host_cpu_ticks()
    host_end: list[int] = field(default_factory=list)

    @property
    def wall(self) -> float:
        return self.end - self.start

    @property
    def cpu(self) -> float:
        """CPU seconds every process of the run used in the span."""
        return self.cpu_end - self.cpu_start

    @property
    def steal(self) -> float:
        return steal_frac(self.host_start, self.host_end)

    @property
    def wall_adj(self) -> float:
        """Wall time less the share of the host's CPU time stolen."""
        return self.wall * (1.0 - self.steal)

    @property
    def cpu_adj(self) -> float:
        """CPU time less the share of the host's CPU time stolen."""
        return self.cpu * (1.0 - self.steal)


class Spans:
    """In-memory span log. ``with spans.span("epoch", parent=...)``
    yields the :class:`Span`, whose ``attrs`` the caller may fill."""

    def __init__(self) -> None:
        self.items: list[Span] = []

    @contextmanager
    def span(self, name: str, parent: str | None = None, **attrs):
        s = Span(name, time.time(), 0.0, parent, dict(attrs), tree_cpu_s(),
                 host_start=host_cpu_ticks())
        try:
            yield s
        finally:
            s.end = time.time()
            s.cpu_end = tree_cpu_s()
            s.host_end = host_cpu_ticks()
            self.items.append(s)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                [
                    {"name": s.name, "start": s.start, "end": s.end,
                     "cpu_s": s.cpu, "steal": s.steal, "parent": s.parent,
                     "attrs": s.attrs}
                    for s in self.items
                ],
                f,
                indent=0,
                default=str,
            )


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _hwm_kb(pid: int) -> int:
    """Peak resident set size of a live process so far (VmHWM)."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _cmd(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


class RssSampler:
    """Peak resident memory of this process and every descendant (the
    Spark driver JVM, the Python worker daemon and its workers): each
    process's high-water mark (VmHWM), read from ``/proc`` on a
    background thread until it exits, summed over the processes. The
    kernel keeps the high-water mark, so a short spike between two
    samples still counts."""

    def __init__(self, period_s: float = 0.5) -> None:
        self.period_s = period_s
        self.hwm_kb: dict[int, int] = {}
        self.jvm: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        kids = _children()
        stack = [os.getpid()]
        while stack:
            pid = stack.pop()
            hwm = _hwm_kb(pid)
            if hwm:
                if pid not in self.hwm_kb and "java" in _cmd(pid).split(" ", 1)[0]:
                    self.jvm.add(pid)
                self.hwm_kb[pid] = max(self.hwm_kb.get(pid, 0), hwm)
            stack.extend(kids.get(pid, ()))

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.period_s)

    @property
    def peak_mb(self) -> float:
        return sum(self.hwm_kb.values()) / 1024.0

    @property
    def jvm_mb(self) -> float:
        return sum(v for p, v in self.hwm_kb.items() if p in self.jvm) / 1024.0

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


def _walk_files(path: str) -> dict[str, int]:
    out: dict[str, int] = {}
    if os.path.isfile(path):
        return {path: os.path.getsize(path)}
    for root, _dirs, files in os.walk(path):
        for fn in files:
            p = os.path.join(root, fn)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


def _entry_rels(entry: dict) -> tuple[list[str], list[str]]:
    """(base paths, delta paths) named by one manifest table entry."""
    if "parts" in entry:
        return list(entry["parts"].values()), list(entry.get("deltas", []))
    return list(entry.get("paths", [])), []


@dataclass
class CatalogSnapshot:
    files: dict[str, int]          # every file under the root -> bytes
    live_paths: dict[str, int]     # files some manifest entry names -> bytes
    live_bytes: dict[str, int]     # table -> bytes its entry names
    live_files: dict[str, int]     # table -> parquet files its entry names
    delta_sets: dict[str, int]     # table -> pending delta file sets

    @property
    def total_live_bytes(self) -> int:
        # tables may reference each other's files (seen_exact names the
        # frontier's), so count each file once
        return sum(self.live_paths.values())


def catalog_snapshot(root: str) -> CatalogSnapshot:
    with open(os.path.join(root, "manifest.json")) as f:
        manifest = json.load(f)
    live_paths: dict[str, int] = {}
    live_bytes, live_files, deltas = {}, {}, {}
    for name, entry in manifest["tables"].items():
        base, delta = _entry_rels(entry)
        named: dict[str, int] = {}
        for rel in base + delta:
            named.update(_walk_files(os.path.join(root, rel)))
        live_paths.update(named)
        live_bytes[name] = sum(named.values())
        live_files[name] = sum(1 for p in named if p.endswith(".parquet"))
        deltas[name] = len(delta)
    return CatalogSnapshot(
        _walk_files(root), live_paths, live_bytes, live_files, deltas
    )


def bytes_written(before: CatalogSnapshot, after: CatalogSnapshot) -> int:
    """Bytes of files that exist after but not before (catalog files are
    immutable, so new paths are exactly what the epoch wrote)."""
    return sum(b for p, b in after.files.items() if p not in before.files)
