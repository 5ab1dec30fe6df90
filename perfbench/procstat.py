"""OS process counters from /proc for the Spark JVM and its Python worker
processes (``pyspark.daemon`` and the workers it forks, plus the Python
data-source planners the JVM starts directly)."""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                st = f.read()
        except OSError:
            continue
        ppid = int(st[st.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def engine_processes(root: int, exclude: set[int] = frozenset()) -> dict[str, list[int]]:
    """Descendants of ``root`` split into {"jvm": [...], "pyworker": [...]}.
    Processes in ``exclude`` (e.g. the load generator) and their
    descendants are skipped, and so is a java process under the JVM: a
    fork of the JVM on its way to exec a helper (file-system shell
    commands), which until then reports the JVM's whole resident set."""
    kids = _children_map()
    out = {"jvm": [], "pyworker": []}
    stack = [(c, False) for c in kids.get(root, []) if c not in exclude]
    while stack:
        pid, under_jvm = stack.pop()
        cmd = _cmdline(pid)
        if "java" in cmd.split(" ", 1)[0]:
            if under_jvm:
                continue
            out["jvm"].append(pid)
            under_jvm = True
        elif under_jvm and "python" in cmd:
            out["pyworker"].append(pid)
        stack.extend((c, under_jvm) for c in kids.get(pid, []) if c not in exclude)
    return out


def _status_field(pid: int, path: str, key: str) -> int:
    """A ``key: <n> kB`` line of /proc/<pid>/<path>, in bytes; 0 when the
    process is gone."""
    try:
        with open(f"/proc/{pid}/{path}") as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


def resident_bytes(pid: int) -> int:
    """Proportional resident size (Pss): pages shared between processes,
    such as a forked Python worker's pages shared with its daemon, count
    once across them instead of once per process."""
    return _status_field(pid, "smaps_rollup", "Pss:")


def jvm_resident_bytes(pid: int) -> int:
    """Resident size of the JVM from the kernel's counters (VmRSS).  The
    JVM shares no pages with the other engine processes, so this equals
    its Pss to within its shared libraries (0.1% with a 2 GB heap), while
    reading its Pss walks every page table of the process: about 40 ms of
    kernel time with the JVM's memory map locked, ten times a second."""
    return _status_field(pid, "status", "VmRSS:")


def cpu_seconds(pid: int, with_children: bool = False) -> float:
    """utime+stime of the process; with reaped children's times when
    ``with_children`` (the daemon reaps the workers it forks)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            st = f.read()
    except OSError:
        return 0.0
    fields = st[st.rindex(")") + 2 :].split()
    t = int(fields[11]) + int(fields[12])
    if with_children:
        t += int(fields[13]) + int(fields[14])
    return t / _TICK


def cpu_by_class(procs: dict[str, list[int]]) -> dict[str, float]:
    out = {"jvm": sum(cpu_seconds(p) for p in procs["jvm"])}
    out["pyworker"] = sum(cpu_seconds(p, with_children=True) for p in procs["pyworker"])
    return out


class MemorySampler:
    """Background thread sampling the summed resident memory of the engine
    processes (the JVM's RSS plus the Python workers' Pss) every ``period``
    seconds; ``peak_mb`` is the highest sum seen."""

    def __init__(self, root: int, exclude: set[int] | None = None, period: float = 0.1):
        self.root = root
        self.exclude = exclude if exclude is not None else set()
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.period)

    def sample(self) -> None:
        procs = engine_processes(self.root, self.exclude)
        total = sum(jvm_resident_bytes(p) for p in procs["jvm"])
        total += sum(resident_bytes(p) for p in procs["pyworker"])
        self.peak = max(self.peak, total)

    def start(self) -> "MemorySampler":
        self._t.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._t.join(timeout=5)
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20
