"""Span recorder, Spark stage-metrics collector and outside-the-program
counters (process RSS, bytes and files on disk).

Spans are recorded by the benchmark around its own calls into the
program's public functions; nothing inside the program is changed. In a
traced run every span sets a Spark job group of its own, so each job —
and through it each stage — belongs to exactly one span. After the span
the listener bus is drained and the stages are read from the status
store: executor run time, tasks, failures, shuffle and spill bytes.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError

SPAN_FIELDS = ("wall_s", "busy_s", "wait_s", "jobs", "tasks", "failed_tasks",
               "shuffle_mb", "spill_mb")
_MB = 1024.0 * 1024.0


class Tracer:
    """Records spans (name, start, end, parent, run id) in memory; with
    ``enabled`` false, ``span`` times nothing and costs nothing, so the
    untraced run measures the program alone."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: dict[str, list[float]] = defaultdict(list)
        self._stack: list[dict] = []
        self._seen_stages: set[int] = set()

    def span(self, name: str):
        return _Span(self, name) if self.enabled else _NULL_SPAN

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.counts[name].append(float(value))

    # -- Spark side -------------------------------------------------------

    def _set_group(self, group: str | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if group is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(group, group)

    def _stage_totals(self, group: str) -> dict:
        out = dict.fromkeys(("busy_s", "jobs", "tasks", "failed_tasks",
                             "shuffle_mb", "spill_mb"), 0.0)
        if self.spark is None:
            return out
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(60_000)
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        for job_id in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            out["jobs"] += 1
            for stage_id in info.stageIds:
                if stage_id in self._seen_stages:
                    continue  # a reused shuffle stage belongs to the span that ran it
                try:
                    st = store.lastStageAttempt(stage_id)
                except Py4JJavaError:  # no attempt in the store (never submitted)
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                self._seen_stages.add(stage_id)
                out["busy_s"] += st.executorRunTime() / 1000.0
                out["tasks"] += st.numTasks()
                out["failed_tasks"] += st.numFailedTasks()
                out["shuffle_mb"] += (st.shuffleReadBytes() + st.shuffleWriteBytes()) / _MB
                out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / _MB
        return out

    # -- reporting ----------------------------------------------------------

    def layer_metrics(self, cores: int) -> dict[str, list[float]]:
        """Per span name, every SPAN_FIELDS value of every occurrence
        (a span's totals include its child spans)."""
        by_id = {s["id"]: s for s in self.spans}
        totals = {s["id"]: dict(s["own"]) for s in self.spans}
        for s in sorted(self.spans, key=lambda s: -s["depth"]):
            if s["parent"] is not None:
                for k, v in totals[s["id"]].items():
                    totals[s["parent"]][k] += v
        out: dict[str, list[float]] = defaultdict(list)
        for sid, t in totals.items():
            s = by_id[sid]
            wall = s["end"] - s["start"]
            out[f"{s['name']}.wall_s"].append(wall)
            out[f"{s['name']}.wait_s"].append(wall - t["busy_s"] / cores)
            for k, v in t.items():
                out[f"{s['name']}.{k}"].append(v)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({k: s[k] for k in
                                     ("run_id", "id", "name", "parent", "start", "end", "own")}) + "\n")


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.t = tracer
        self.name = name

    def __enter__(self):
        t = self.t
        parent = t._stack[-1] if t._stack else None
        self.rec = {"run_id": t.run_id, "id": len(t.spans), "name": self.name,
                    "parent": parent["id"] if parent else None,
                    "depth": len(t._stack), "start": time.perf_counter()}
        self.rec["group"] = f"{t.run_id}:{self.rec['id']}:{self.name}"
        t.spans.append(self.rec)
        t._stack.append(self.rec)
        t._set_group(self.rec["group"])
        return self

    def __exit__(self, *exc):
        t = self.t
        self.rec["end"] = time.perf_counter()
        t._stack.pop()
        t._set_group(t._stack[-1]["group"] if t._stack else None)
        self.rec["own"] = t._stage_totals(self.rec["group"])
        return False


class _NullSpan:
    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


_NULL_SPAN = _NullSpan()


def materialize(df, tracer: Tracer):
    """In a traced run, persist and count ``df`` so the time to compute
    it lands in the current span instead of the next layer's; untraced,
    return it unchanged (the program's own laziness decides)."""
    if not tracer.enabled:
        return df
    df = df.persist()
    df.count()
    return df


# --------------------------------------------------------------------------
# outside-the-program counters


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _children(pid: int) -> list[int]:
    out = []
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out += [int(c) for c in fh.read().split()]
        except OSError:
            continue
    return out


class RssSampler:
    """Samples, every ``period`` seconds, the RSS of this driver process
    and of its JVM child (the Spark driver) from /proc and keeps the
    larger peak. Python workers, children of the JVM, are not counted."""

    def __init__(self, period: float = 0.1):
        self.period = period
        self.peak_mb = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False

    def reset(self) -> None:
        with self._lock:
            self.peak_mb = 0.0
        self.sample()

    def sample(self) -> None:
        me = os.getpid()
        now = max([_rss_mb(me)] + [_rss_mb(c) for c in _children(me)])
        with self._lock:
            self.peak_mb = max(self.peak_mb, now)

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, files) of the regular files under ``path``."""
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            try:
                size += os.path.getsize(os.path.join(root, n))
                files += 1
            except OSError:
                continue
    return size, files
