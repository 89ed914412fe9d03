"""Outside-in measurement: /proc process-tree CPU and RSS, Spark's status
store, and in-memory spans.

Nothing here touches package code. CPU and memory come from /proc for the
process tree under this process (the Spark JVM and its Python workers);
stage and task figures come from the JVM's AppStatusStore through py4j,
which is populated with the Spark UI disabled.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import threading
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int):
    with open(f"/proc/{pid}/stat", "rb") as f:
        raw = f.read()
    # comm may contain spaces and parens: split after the LAST ')'
    rp = raw.rindex(b")")
    comm = raw[raw.index(b"(") + 1 : rp].decode("utf-8", "replace")
    return comm, raw[rp + 2 :].split()


def descendants(root: int) -> list[tuple[int, str, list]]:
    """(pid, comm, stat fields from field 3 on) of every live descendant of
    `root` (not `root` itself)."""
    procs = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            procs[int(name)] = _stat_fields(int(name))
        except (OSError, ValueError):
            continue  # exited while listing
    children: dict[int, list[int]] = {}
    for pid, (_comm, fields) in procs.items():
        children.setdefault(int(fields[1]), []).append(pid)
    out, stack = [], list(children.get(root, ()))
    while stack:
        pid = stack.pop()
        comm, fields = procs[pid]
        out.append((pid, comm, fields))
        stack.extend(children.get(pid, ()))
    return out


class ProcessTree:
    """CPU seconds and resident memory of the process tree under this
    process, i.e. the Spark JVM and its Python workers."""

    def __init__(self):
        self.root = os.getpid()

    def cpu_s(self) -> dict[str, float]:
        """User+sys CPU seconds, own plus reaped children, split into the
        JVM side and the Python-worker side."""
        out = {"all": 0.0, "python": 0.0}
        for _pid, comm, f in descendants(self.root):
            # fields 14-17 (utime stime cutime cstime) sit at index 11..14
            ticks = int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
            out["all"] += ticks / _CLK_TCK
            if comm.startswith("python"):
                out["python"] += ticks / _CLK_TCK
        return out

    def rss_mb(self) -> float:
        # field 24 (rss, pages) sits at index 21
        return sum(int(f[21]) for _p, _c, f in descendants(self.root)) * _PAGE / 2**20

    def pids(self) -> list[int]:
        return [pid for pid, _c, _f in descendants(self.root)]


class RssSampler:
    """Background sampler of the tree's resident memory. Between `start()`
    and `stop()` it collects samples; `stop()` returns their peak."""

    def __init__(self, tree: ProcessTree, interval_s: float = 0.05):
        self.tree = tree
        self.interval_s = interval_s
        self._samples: list[float] | None = None
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.wait(self.interval_s):
            samples = self._samples
            if samples is not None:
                samples.append(self.tree.rss_mb())

    def start(self) -> None:
        self._samples = [self.tree.rss_mb()]

    def stop(self) -> float:
        samples, self._samples = self._samples, None
        samples.append(self.tree.rss_mb())
        return max(samples)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


class StatusStore:
    """Stage and task figures from the JVM's AppStatusStore (py4j).

    Works with `spark.ui.enabled=false`. Listener events are applied
    asynchronously, so every read first drains the listener bus.
    """

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._jsc = jsc
        self._gw = spark.sparkContext._gateway
        self._store = jsc.statusStore()

    def _drain(self):
        self._jsc.listenerBus().waitUntilEmpty()

    def stages(self) -> list:
        self._drain()
        jvm = self._gw.jvm
        seq = self._store.stageList(
            None, False, False, self._gw.new_array(jvm.double, 0), None
        )
        return [seq.apply(i) for i in range(seq.size())]

    def max_stage_id(self) -> int:
        return max((s.stageId() for s in self.stages()), default=-1)

    def task_durations_ms(self, stage) -> list[int]:
        seq = self._store.taskList(stage.stageId(), stage.attemptId(), 1 << 20)
        out = []
        for i in range(seq.size()):
            d = seq.apply(i).duration()
            if d.isDefined():
                out.append(int(d.get()))
        return out

    def summarize(self, after_stage_id: int) -> dict:
        """Totals over the stages created after `after_stage_id`, plus the
        task max/median duration ratio of the stage that ran longest."""
        stages = [s for s in self.stages() if s.stageId() > after_stage_id]
        out = {
            "tasks": sum(s.numCompleteTasks() + s.numFailedTasks() for s in stages),
            "failed_tasks": sum(s.numFailedTasks() for s in stages),
            "executor_run_s": sum(s.executorRunTime() for s in stages) / 1e3,
            "executor_cpu_s": sum(s.executorCpuTime() for s in stages) / 1e9,
            "shuffle_write_bytes": sum(s.shuffleWriteBytes() for s in stages),
            "task_max_over_median": 0.0,
        }
        if stages:
            longest = max(stages, key=lambda s: s.executorRunTime())
            durations = self.task_durations_ms(longest)
            med = statistics.median(durations) if durations else 0
            if med > 0:
                out["task_max_over_median"] = max(durations) / med
        return out


class Tracer:
    """In-memory spans {name, start, end, parent}; written out at the end."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[str] = []
        self._t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "name": name,
            "start": time.perf_counter() - self._t0,
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
        }
        self.spans.append(rec)
        self._stack.append(name)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0

    def duration(self, name: str) -> float:
        s = next(s for s in self.spans if s["name"] == name)
        return s["end"] - s["start"]

    def self_times(self) -> dict[str, float]:
        """Span duration minus the part of it its child spans cover
        (spans are strictly nested, so children of one parent never overlap)."""
        out = {}
        for s in self.spans:
            kids = sum(
                c["end"] - c["start"] for c in self.spans if c["parent"] == s["name"]
            )
            out[s["name"]] = (s["end"] - s["start"]) - kids
        return out
