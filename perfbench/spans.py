"""Spans around the benchmark's calls into the engine, and the Spark
counters attributed to them.

A span records name, start, end, parent and run id; spans are kept in
memory and written out once, when the run ends. Jobs are attributed to
the innermost open span through the job group, which Spark copies onto
every job the calling thread starts (micro-batch jobs carry the
streaming query's run id as their group instead). Counters come from
Spark's own bookkeeping after the fact: job -> stage ids from the
status store's job list, task metrics from its stage list. Nothing
inside the engine is instrumented.
"""

from __future__ import annotations

import ctypes
import gc
import json
import os
import resource
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


class PeakRss:
    """Peak resident set size of this process over an interval, sampled
    from /proc/self/status. The kernel's own high-water mark covers the
    whole process lifetime, which would fold the untimed checks into a
    metric of the timed region."""

    def __init__(self, every_s: float = 0.02):
        self.every_s = every_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)

    @staticmethod
    def rss_kb() -> int:
        with open("/proc/self/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
        return 0

    def _sample(self) -> None:
        while True:
            self.peak_kb = max(self.peak_kb, self.rss_kb())
            if self._stop.wait(self.every_s):
                return

    def __enter__(self):
        # hand freed heap back to the OS first, so the interval starts
        # from what is live rather than from earlier phases' garbage
        gc.collect()
        ctypes.CDLL("libc.so.6").malloc_trim(0)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak_kb = max(self.peak_kb, self.rss_kb())

    @property
    def mb(self) -> float:
        return self.peak_kb / 1024


def driver_cpu_s() -> float:
    ru = resource.getrusage(resource.RUSAGE_SELF)
    return ru.ru_utime + ru.ru_stime


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    group: str = ""
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder; with enabled=False every span is a no-op, so the
    untraced run pays nothing but a context-manager entry."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.sc = None  # SparkContext, set once the session exists

    def _set_group(self, group: str | None) -> None:
        if self.sc is not None:
            if group:
                self.sc.setJobGroup(group, group)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=len(self.spans),
            name=name,
            parent=parent.id if parent else None,
            run_id=self.run_id,
            start=time.perf_counter(),
            attrs=dict(attrs),
        )
        s.group = f"{self.run_id}/{s.id}"
        s.attrs["cpu0"] = driver_cpu_s()
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s.group)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.attrs["driver_cpu_s"] = driver_cpu_s() - s.attrs.pop("cpu0")
            self._stack.pop()
            self._set_group(self._stack[-1].group if self._stack else None)

    def find(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_time(self, s: Span) -> float:
        """Span duration minus the part its child spans cover."""
        kids = sorted((c.start, c.end) for c in self.spans if c.parent == s.id)
        covered, last = 0.0, s.start
        for a, b in kids:
            a = max(a, last)
            if b > a:
                covered += b - a
                last = b
        return s.dur - covered

    def dump(self, path: str, counters: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                rec = asdict(s)
                rec["self_s"] = self.self_time(s)
                f.write(json.dumps(rec) + "\n")
            f.write(json.dumps({"counters": counters}) + "\n")


STAGE_FIELDS = (
    "numTasks",
    "executorRunTime",  # ms
    "executorCpuTime",  # ns
    "jvmGcTime",  # ms
    "inputBytes",
    "shuffleReadBytes",
    "shuffleWriteBytes",
    "diskBytesSpilled",
)


class SparkCounters:
    """Read-only view of the status store: jobs by group, stage metrics.
    Works with the UI disabled (the store is fed by the listener bus)."""

    def __init__(self, sc):
        self.sc = sc
        self.jsc = sc._jsc.sc()

    def snapshot(self) -> tuple[dict[int, dict], dict[int, dict]]:
        self.jsc.listenerBus().waitUntilEmpty(30_000)
        store = self.jsc.statusStore()
        jobs: dict[int, dict] = {}
        seq = store.jobsList(None)
        for i in range(seq.size()):
            j = seq.apply(i)
            grp, desc = j.jobGroup(), j.description()
            ids = j.stageIds()
            jobs[j.jobId()] = {
                "group": grp.get() if grp.isDefined() else None,
                "description": desc.get() if desc.isDefined() else "",
                "stages": [ids.apply(k) for k in range(ids.size())],
            }
        stages: dict[int, dict] = {}
        no_quantiles = self.sc._gateway.new_array(self.sc._gateway.jvm.double, 0)
        seq = store.stageList(None, False, False, no_quantiles, None)
        for i in range(seq.size()):
            st = seq.apply(i)
            rec = {f: getattr(st, f)() for f in STAGE_FIELDS}
            if str(st.status()) == "SKIPPED":
                rec["numTasks"] = 0
            agg = stages.setdefault(st.stageId(), dict.fromkeys(STAGE_FIELDS, 0))
            for f in STAGE_FIELDS:
                agg[f] += rec[f]
        return jobs, stages


def stage_totals(stage_ids, stages: dict[int, dict]) -> dict[str, float]:
    """Summed task metrics of the given stages, in s / MB / counts."""
    t = dict.fromkeys(STAGE_FIELDS, 0)
    for sid in set(stage_ids):
        for f in STAGE_FIELDS:
            t[f] += stages.get(sid, {}).get(f, 0)
    mb = 1024 * 1024
    return {
        "tasks": t["numTasks"],
        "executor_run_s": t["executorRunTime"] / 1e3,
        "executor_cpu_s": t["executorCpuTime"] / 1e9,
        "gc_s": t["jvmGcTime"] / 1e3,
        "input_mb": t["inputBytes"] / mb,
        "shuffle_read_mb": t["shuffleReadBytes"] / mb,
        "shuffle_write_mb": t["shuffleWriteBytes"] / mb,
        "spill_mb": t["diskBytesSpilled"] / mb,
    }
