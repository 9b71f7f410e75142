"""Spans around calls into the engine's modules, counted from outside.

Only the traced run installs any of this; the untraced run that
produces the end-to-end metrics executes none of it.

- ``Tracer.wrap`` replaces a public function by a recording wrapper in
  its defining module *and* in every engine module that bound it with
  ``from ... import``, so no caller slips past the span.
- py4j round trips are counted by wrapping the client's send method.
- ``exec_per_op`` post-processes Spark's JSON event log into per-op
  engine numbers, after the timed region has ended.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import importlib
import json
import os
import statistics
import sys
import time

PKG = "mapreducewordcount_spark"


class Tracer:
    def __init__(self) -> None:
        # (name, start, end, parent index or -1, op id, py4j calls)
        self.spans: list[tuple[str, float, float, int, int, int]] = []
        self._stack: list[int] = []
        self.op_id = -1
        self.py4j_calls = 0

    @contextlib.contextmanager
    def span(self, name: str):
        idx, start, calls = len(self.spans), time.perf_counter(), self.py4j_calls
        parent = self._stack[-1] if self._stack else -1
        self.spans.append((name, start, start, parent, self.op_id, 0))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx] = (name, start, time.perf_counter(), parent,
                               self.op_id, self.py4j_calls - calls)

    def wrap(self, module: str, attr: str, name: str) -> None:
        mod = importlib.import_module(module)
        fn = getattr(mod, attr)

        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        for m in list(sys.modules.values()):
            if getattr(m, "__name__", "").startswith(PKG):
                for k, v in list(vars(m).items()):
                    if v is fn:
                        setattr(m, k, traced)

    def count_py4j(self) -> None:
        from py4j.java_gateway import GatewayClient

        send = GatewayClient.send_command

        def counted(client, *a, **kw):
            self.py4j_calls += 1
            return send(client, *a, **kw)

        GatewayClient.send_command = counted

    def per_op(self, name: str, ops: list[int]) -> tuple[float, float, float]:
        """Median over ``ops`` of (seconds, calls, py4j calls) in ``name``."""
        secs = {op: 0.0 for op in ops}
        calls = {op: 0 for op in ops}
        py4j = {op: 0 for op in ops}
        for n, start, end, _parent, op, p in self.spans:
            if n == name and op in secs:
                secs[op] += end - start
                calls[op] += 1
                py4j[op] += p
        return (statistics.median(secs.values()),
                statistics.median(calls.values()),
                statistics.median(py4j.values()))

    def total_calls(self, name: str) -> int:
        return sum(1 for s in self.spans if s[0] == name)


def read_event_log(log_dir: str) -> dict[str, list[dict]]:
    """Events by type; Spark 4 writes rolling logs as a directory of
    ``events_<n>_*`` files."""
    events: dict[str, list[dict]] = {}
    for path in glob.glob(f"{log_dir}/**/*", recursive=True):
        if os.path.isfile(path):
            with open(path) as f:
                for line in f:
                    if line.strip():
                        ev = json.loads(line)
                        events.setdefault(ev["Event"], []).append(ev)
    return events


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def exec_per_op(events: dict[str, list[dict]],
                windows: list[tuple[float, float]]) -> list[dict]:
    """Engine numbers for each op window (epoch seconds).

    One client issues one op at a time, so every job, stage and task
    submitted inside a window belongs to that op. Jobs carry the job
    group the benchmark set, which splits registry ops into their
    construct and execute phases.
    """
    def op_of(t_ms: float) -> int:
        t = t_ms / 1000.0
        for i, (a, b) in enumerate(windows):
            if a <= t <= b:
                return i
        return -1

    out = [{"jobs": 0, "construct_jobs": 0, "execute_jobs": 0, "stages": 0,
            "tasks": 0, "executor_run_s": 0.0, "executor_cpu_s": 0.0,
            "jvm_gc_s": 0.0, "input_mb": 0.0, "shuffle_write_mb": 0.0,
            "shuffle_read_mb": 0.0, "spill_mb": 0.0, "job_intervals": [],
            "stage_tasks": {}, "shuffle_stages": set()} for _ in windows]
    ends = {e["Job ID"]: e["Completion Time"]
            for e in events.get("SparkListenerJobEnd", [])}
    for e in events.get("SparkListenerJobStart", []):
        i = op_of(e["Submission Time"])
        if i < 0:
            continue
        rec = out[i]
        rec["jobs"] += 1
        group = (e.get("Properties") or {}).get("spark.jobGroup.id", "")
        if group.endswith(":construct"):
            rec["construct_jobs"] += 1
        elif group.endswith(":execute"):
            rec["execute_jobs"] += 1
        end = ends.get(e["Job ID"], e["Submission Time"])
        rec["job_intervals"].append((e["Submission Time"] / 1000.0,
                                     end / 1000.0))
    for e in events.get("SparkListenerStageCompleted", []):
        info = e["Stage Info"]
        i = op_of(info.get("Submission Time", 0))
        if i >= 0:
            out[i]["stages"] += 1
    mb = 1.0 / (1024 * 1024)
    for e in events.get("SparkListenerTaskEnd", []):
        info, m = e["Task Info"], e.get("Task Metrics") or {}
        i = op_of(info["Launch Time"])
        if i < 0:
            continue
        rec = out[i]
        rec["tasks"] += 1
        rec["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
        rec["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        rec["jvm_gc_s"] += m.get("JVM GC Time", 0) / 1000.0
        rec["input_mb"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0) * mb
        sw = m.get("Shuffle Write Metrics") or {}
        rec["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) * mb
        sr = m.get("Shuffle Read Metrics") or {}
        read = sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        rec["shuffle_read_mb"] += read * mb
        rec["spill_mb"] += m.get("Disk Bytes Spilled", 0) * mb
        key = (e["Stage ID"], e["Stage Attempt ID"])
        rec["stage_tasks"].setdefault(key, []).append(
            (info["Finish Time"] - info["Launch Time"]) / 1000.0)
        if read > 0 or sr.get("Total Records Read", 0) > 0:
            rec["shuffle_stages"].add(key)
    for (a, b), rec in zip(windows, out):
        rec["driver_gap_s"] = (b - a) - _union_s(
            [(max(x, a), min(y, b)) for x, y in rec.pop("job_intervals")])
        stage_tasks = rec.pop("stage_tasks")
        shuffle = rec.pop("shuffle_stages")
        # skew of the op's slowest shuffle-reading stage; 1.0 when the
        # op ran no shuffle read
        slowest = max(shuffle, key=lambda k: max(stage_tasks[k]), default=None)
        ts = stage_tasks.get(slowest, [1.0])
        rec["task_skew"] = max(ts) / max(statistics.median(ts), 1e-3)
    return out
