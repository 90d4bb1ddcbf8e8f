"""Spans and counters recorded from outside the engine.

A :class:`Tracer` keeps every span in memory and writes them out once,
when the run ends. Spans nest batch -> query/step -> build/exec/write/
fit, so a layer's self time is its spans' durations minus the part of
each interval its child spans cover.

Two counters need hooks that only the traced run installs:

* py4j round trips: the client ``send_command`` methods are wrapped, so
  every call from the Python driver into the JVM increments
  :attr:`Tracer.py4j_calls`;
* Spark task metrics: the launch environment turns on a local event log
  (see ``run.pin_environment``), which :func:`read_event_log` parses
  after the session stops.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes :meth:`span` a
    plain timer that records nothing, so the untraced run pays only two
    clock reads per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.py4j_calls = 0
        self._stack: list[int] = []
        self._unpatch: list = []

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        rec = {"name": name, "layer": layer, **attrs}
        if self.enabled:
            rec["id"] = len(self.spans)
            rec["parent"] = self._stack[-1] if self._stack else None
            rec["py4j_start"] = self.py4j_calls
            self.spans.append(rec)
            self._stack.append(rec["id"])
        rec["epoch_start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur"] = time.perf_counter() - t0
            rec["epoch_end"] = time.time()
            if self.enabled:
                self._stack.pop()
                rec["py4j_calls"] = self.py4j_calls - rec.pop("py4j_start")

    def count_py4j(self) -> None:
        """Wrap py4j's client send so each JVM round trip is counted."""
        from py4j import clientserver, java_gateway

        for cls in (clientserver.ClientServerConnection,
                    java_gateway.GatewayConnection):
            original = cls.send_command

            def counted(conn, *args, _original=original, **kwargs):
                self.py4j_calls += 1
                return _original(conn, *args, **kwargs)

            cls.send_command = counted
            self._unpatch.append((cls, original))

    def close(self) -> None:
        for cls, original in self._unpatch:
            cls.send_command = original
        self._unpatch.clear()

    def self_times(self) -> dict[str, float]:
        """Seconds per layer that no child span of it covers."""
        child_cover = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child_cover[s["parent"]] += s["dur"]
        out: dict[str, float] = {}
        for s, covered in zip(self.spans, child_cover):
            out[s["layer"]] = out.get(s["layer"], 0.0) + s["dur"] - covered
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


def read_event_log(log_dir: str) -> list[dict]:
    """Per-job records from the Spark event log(s) under ``log_dir``:
    submission time, job group and the summed metrics of the job's
    tasks. Called after the session has stopped, when the log is
    complete."""
    stage_job: dict[int, int] = {}
    jobs: dict[int, dict] = {}
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[jid] = {
                        "submit_ms": ev["Submission Time"],
                        "group": props.get("spark.jobGroup.id"),
                        "stages": set(), "tasks": 0, "run_ms": 0, "gc_ms": 0,
                        "shuffle_read": 0, "shuffle_write": 0, "spill": 0,
                    }
                    for sid in ev["Stage IDs"]:
                        stage_job[sid] = jid
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev["Stage ID"]))
                    m = ev.get("Task Metrics")
                    if job is None or not m:
                        continue
                    job["stages"].add(ev["Stage ID"])
                    job["tasks"] += 1
                    job["run_ms"] += m.get("Executor Run Time", 0)
                    job["gc_ms"] += m.get("JVM GC Time", 0)
                    rd = m.get("Shuffle Read Metrics", {})
                    job["shuffle_read"] += (rd.get("Remote Bytes Read", 0)
                                            + rd.get("Local Bytes Read", 0))
                    wr = m.get("Shuffle Write Metrics", {})
                    job["shuffle_write"] += wr.get("Shuffle Bytes Written", 0)
                    job["spill"] += (m.get("Memory Bytes Spilled", 0)
                                     + m.get("Disk Bytes Spilled", 0))
    return list(jobs.values())
