"""Outside-in readers for the per-layer metrics, and the span recorder.

Nothing here reaches into the engine: Spark's own status store and
status tracker (through the py4j gateway), the persistent-RDD table,
``StreamingQueryProgress`` and ``/proc`` for the driver JVM and the
pyspark daemon and its workers.
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")
MB = 1024 * 1024


# -- /proc -------------------------------------------------------------------

def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2:].split()  # fields from "state" on


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                kids.setdefault(int(st[1]), []).append(int(name))
    return kids


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def python_daemons(jvm_pid: int) -> list[int]:
    """The pyspark daemon processes the driver JVM forked."""
    return [p for p in _children().get(jvm_pid, []) if "pyspark" in _cmdline(p)]


def python_cpu_s(jvm_pid: int) -> float:
    """CPU seconds of the pyspark daemon, its reaped workers (cutime and
    cstime) and its live workers. Deltas of this count worker CPU once:
    a worker's time moves into the daemon's child time when it exits."""
    kids = _children()
    ticks = 0
    for d in [p for p in kids.get(jvm_pid, []) if "pyspark" in _cmdline(p)]:
        st = _stat(d)
        if st:
            ticks += sum(int(x) for x in st[11:15])
        for w in kids.get(d, []):
            st = _stat(w)
            if st:
                ticks += int(st[11]) + int(st[12])
    return ticks / _TICK


def vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


# -- Spark status store ----------------------------------------------------------

def _ms(opt) -> float | None:
    """A Scala ``Option[java.util.Date]`` as epoch seconds."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class StatusReader:
    """Jobs and stages of a job group, read back from the status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        store holds the final metrics of every finished stage."""
        self.jsc.listenerBus().waitUntilEmpty()

    def group_jobs(self, group: str) -> list[dict]:
        return [self.job(j) for j in sorted(self.sc.statusTracker().getJobIdsForGroup(group))]

    def job(self, job_id: int) -> dict:
        jd = self.store.job(job_id)
        stages = []
        ids = jd.stageIds()
        for i in range(ids.size()):
            sd = self.store.lastStageAttempt(ids.apply(i))
            stages.append({
                "id": sd.stageId(),
                "status": sd.status().toString(),
                "start": _ms(sd.submissionTime()),
                "end": _ms(sd.completionTime()),
                "tasks": sd.numTasks(),
                "tasks_failed": sd.numFailedTasks(),
                "run_s": sd.executorRunTime() / 1e3,
                "cpu_s": sd.executorCpuTime() / 1e9,
                "gc_s": sd.jvmGcTime() / 1e3,
                "input_bytes": sd.inputBytes(),
                "input_records": sd.inputRecords(),
                "shuffle_read_bytes": sd.shuffleReadBytes(),
                "shuffle_write_bytes": sd.shuffleWriteBytes(),
                "fetch_wait_s": sd.shuffleFetchWaitTime() / 1e3,
            })
        return {
            "id": job_id,
            "start": _ms(jd.submissionTime()),
            "end": _ms(jd.completionTime()),
            "status": jd.status().toString(),
            "stages": stages,
        }

    def persistent_rdds(self) -> set[int]:
        return {int(k) for k in self.sc._jsc.getPersistentRDDs().keySet().toArray()}

    def storage_mem_mb(self) -> float:
        return sum(i.memSize() for i in self.jsc.getRDDStorageInfo()) / MB


def stage_totals(jobs: list[dict]) -> dict:
    """Per-layer counters summed over the stages that ran."""
    out = dict.fromkeys(
        ("jobs", "stages", "stages_skipped", "tasks", "tasks_failed", "run_s",
         "cpu_s", "gc_s", "input_bytes", "input_records",
         "shuffle_read_bytes", "shuffle_write_bytes", "fetch_wait_s"), 0)
    for j in jobs:
        out["jobs"] += 1
        for s in j["stages"]:
            if s["status"] == "SKIPPED":
                out["stages_skipped"] += 1
                continue
            out["stages"] += 1
            for k in ("tasks", "tasks_failed", "run_s", "cpu_s", "gc_s",
                      "input_bytes", "input_records", "shuffle_read_bytes",
                      "shuffle_write_bytes", "fetch_wait_s"):
                out[k] += s[k]
    return out


def covered_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


# -- spans -------------------------------------------------------------------

class Spans:
    """In-memory span log: name, start, end, parent and attributes, in
    epoch seconds. Written out once, when the run ends."""

    def __init__(self):
        self.spans: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        self.spans.append({"id": len(self.spans), "parent": parent, "name": name,
                           "start": start, "end": end, **attrs})
        return len(self.spans) - 1

    def open(self, name: str, parent: int | None = None, **attrs) -> int:
        return self.add(name, time.time(), float("nan"), parent, **attrs)

    def close(self, span_id: int, **attrs) -> None:
        self.spans[span_id]["end"] = time.time()
        self.spans[span_id].update(attrs)

    def self_times(self) -> dict[str, float]:
        """Seconds per span name not covered by that span's children."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            own = (s["end"] - s["start"]) - covered_s(kids.get(s["id"], []), s["start"], s["end"])
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out
