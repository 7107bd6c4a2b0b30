"""Outside-in instruments: spans, Spark status-store deltas, /proc memory.

Nothing here reaches inside ``elevation_service_spark``: spans wrap the
benchmark's own calls into the library, Spark counters are read from the
driver's status store, and memory from ``/proc``.  Any Spark-internals
read that fails warns on stderr and yields None; it never stops a run.
"""

from __future__ import annotations

import contextlib
import json
import os
import sys
import time


def warn(msg: str) -> None:
    print(f"perfbench: warning: {msg}", file=sys.stderr, flush=True)


# -- spans --------------------------------------------------------------------

class Tracer:
    """In-memory spans (name, start, end, parent, run id); written once at
    the end of the run.  A disabled tracer records nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name, "run_id": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the part of it
        that child spans cover (children of one span never overlap)."""
        child = {s["id"]: 0.0 for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            own = (s["end"] - s["start"]) - child[s["id"]]
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans,
                       "self_s": self.self_times()}, f, indent=1)


NO_TRACE = Tracer("", False)


# -- Spark status store -------------------------------------------------------

class SparkCounters:
    """Job / stage / task deltas from the driver's status store.  The
    session must retain enough jobs and stages (spark.ui.retainedJobs /
    retainedStages) that a delta never loses entries."""

    def __init__(self, spark):
        self.sc = spark.sparkContext

    def _store(self):
        jsc = self.sc._jsc.sc()
        try:
            jsc.listenerBus().waitUntilEmpty()
        except Exception as e:  # noqa: BLE001 - internal API, may move
            warn(f"listener bus drain failed: {e!r}")
        return jsc.statusStore()

    def _stages(self, st):
        gw = self.sc._gateway
        return st.stageList(None, False, False, gw.new_array(gw.jvm.double, 0),
                            gw.jvm.java.util.ArrayList())

    def mark(self) -> tuple[int, int] | None:
        """(highest job id, highest stage id) seen so far."""
        try:
            st = self._store()
            jobs = st.jobsList(None)
            stages = self._stages(st)
            return (max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1),
                    max((stages.apply(i).stageId() for i in range(stages.size())),
                        default=-1))
        except Exception as e:  # noqa: BLE001
            warn(f"status store mark failed: {e!r}")
            return None

    def jobs_since(self, mark) -> int | None:
        if mark is None:
            return None
        try:
            jobs = self._store().jobsList(None)
            return sum(1 for i in range(jobs.size()) if jobs.apply(i).jobId() > mark[0])
        except Exception as e:  # noqa: BLE001
            warn(f"status store job read failed: {e!r}")
            return None

    def delta(self, mark) -> dict:
        """Counters of every job and stage that started after ``mark``."""
        keys = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
                "jvm_gc_s", "shuffle_write_bytes", "shuffle_read_bytes", "task_skew")
        if mark is None:
            return dict.fromkeys(keys)
        try:
            st = self._store()
            out = dict.fromkeys(keys, 0)
            out["jobs"] = self.jobs_since(mark)
            stages = self._stages(st)
            widest = None
            for i in range(stages.size()):
                s = stages.apply(i)
                if s.stageId() <= mark[1] or s.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += s.numCompleteTasks()
                out["executor_run_s"] += s.executorRunTime() / 1e3
                out["executor_cpu_s"] += s.executorCpuTime() / 1e9
                out["jvm_gc_s"] += s.jvmGcTime() / 1e3
                out["shuffle_write_bytes"] += s.shuffleWriteBytes()
                out["shuffle_read_bytes"] += s.shuffleReadBytes()
                w = (s.numCompleteTasks(), s.executorRunTime(), s.stageId(), s.attemptId())
                if widest is None or w[:2] > widest[:2]:
                    widest = w
            out["task_skew"] = self._skew(st, widest)
            return out
        except Exception as e:  # noqa: BLE001
            warn(f"status store delta failed: {e!r}")
            return dict.fromkeys(keys)

    def _skew(self, st, widest) -> float | None:
        """max / median task run time of the stage with the most tasks."""
        if widest is None:
            return None
        gw = self.sc._gateway
        q = gw.new_array(gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summary = st.taskSummary(widest[2], widest[3], q)
        if summary.isEmpty():
            return None
        run = summary.get().executorRunTime()
        med, mx = run.apply(0), run.apply(1)
        return mx / med if med > 0 else None


# -- /proc memory -------------------------------------------------------------

def _status_kb(pid: int, field: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    return 0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def memory(jvm_pid: int | None) -> dict:
    """VmHWM (MB) of the driver JVM and the sum over its Python workers,
    plus the worker pids so the caller can wait for them to exit."""
    if jvm_pid is None:
        return {"jvm_mb": None, "py_mb": None, "py_pids": []}
    try:
        jvm = _status_kb(jvm_pid, "VmHWM") / 1024
        py, pids = 0.0, []
        for p in descendants(jvm_pid):
            try:
                with open(f"/proc/{p}/comm") as f:
                    if not f.read().startswith("python"):
                        continue
                py += _status_kb(p, "VmHWM") / 1024
                pids.append(p)
            except OSError:
                continue
        return {"jvm_mb": jvm, "py_mb": py, "py_pids": pids}
    except OSError as e:
        warn(f"/proc read failed: {e!r}")
        return {"jvm_mb": None, "py_mb": None, "py_pids": []}


def process_age_s() -> float:
    """Seconds since this process started (kernel start time, 10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")
