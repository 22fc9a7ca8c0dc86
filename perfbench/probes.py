"""Measurement from outside the engine: process-tree RSS and CPU read
from /proc, and counters parsed from Spark's JSON event log."""

from __future__ import annotations

import glob
import json
import os
import threading
from collections import defaultdict

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def proc_stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may contain spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def process_tree(root: int) -> list[int]:
    """``root`` and all its live descendants (JVM, Python workers)."""
    children = defaultdict(list)
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = proc_stat(int(entry))
            if st is not None:
                children[int(st[1])].append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU of the tree, including reaped children."""
    total = 0
    for pid in process_tree(root):
        st = proc_stat(pid)
        if st is not None:
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def _spawning(pid: int) -> bool:
    """True for a child the JVM is still spawning (for ``chmod`` on each
    file Hadoop writes): until it execs, it shares the JVM's memory and
    reports the JVM's RSS as its own. Its command name is then the
    spawning thread's, not the base name of its first argument."""
    try:
        with open(f"/proc/{pid}/comm") as f:
            comm = f.read().strip()
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            argv0 = f.read().split(b"\0", 1)[0].decode(errors="replace")
    except OSError:
        return True
    return comm != os.path.basename(argv0)[:15]


def tree_rss_mb(root: int) -> float:
    """RSS of the tree, each memory counted once."""
    total = 0
    for pid in process_tree(root):
        if _spawning(pid):
            continue
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except OSError:
            pass
    return total * _PAGE / 2**20


class RssSampler:
    """Samples the tree's RSS every ``interval`` seconds in a thread."""

    def __init__(self, root: int, interval: float = 0.2):
        self.root, self.interval = root, interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


class GroupStats:
    """Per-job-group counters from one application's event log."""

    def __init__(self):
        self.jobs = defaultdict(int)
        self.first_submit_ms: dict[str, int] = {}
        self.shuffle_mb = defaultdict(float)
        self.spill_mb = defaultdict(float)
        self.gc_s = 0.0
        self.failed_tasks = 0
        # group -> stage id -> task durations (ms)
        self.task_ms: dict[str, dict[int, list[int]]] = defaultdict(lambda: defaultdict(list))


def parse_event_log(log_dir: str) -> GroupStats:
    stats = GroupStats()
    stage_group: dict[int, str] = {}
    paths = sorted(glob.glob(os.path.join(log_dir, "*")))
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    stats.jobs[group] += 1
                    t = ev["Submission Time"]
                    stats.first_submit_ms[group] = min(stats.first_submit_ms.get(group, t), t)
                    for sid in ev["Stage IDs"]:
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    info = ev["Task Info"]
                    m = ev.get("Task Metrics") or {}
                    stats.gc_s += m.get("JVM GC Time", 0) / 1e3
                    if info.get("Failed") or info.get("Killed"):
                        stats.failed_tasks += 1
                    group = stage_group.get(ev["Stage ID"])
                    if group is None:
                        continue
                    sw = m.get("Shuffle Write Metrics") or {}
                    stats.shuffle_mb[group] += sw.get("Shuffle Bytes Written", 0) / 2**20
                    stats.spill_mb[group] += m.get("Disk Bytes Spilled", 0) / 2**20
                    stats.task_ms[group][ev["Stage ID"]].append(
                        info["Finish Time"] - info["Launch Time"]
                    )
    return stats
