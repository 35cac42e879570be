"""In-memory spans, kernel-call wrapping and Spark event-log parsing.

Spans are recorded by the benchmark around its calls into each layer
(``Tracer.span``) and kept in memory until ``Tracer.dump`` writes them
at exit. A span's self time is its duration minus the part its child
spans cover.

``wrap_kernels`` replaces the kernel names ``extract_core`` imported
with span-recording wrappers, so a decode run in this process records
one span per kernel call; the originals are restored on exit.

``EventLog`` reads the JSON event log a session wrote
(``spark.eventLog.*``) and sums task and stage metrics per job group.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time

__all__ = ["Tracer", "wrap_kernels", "KERNEL_STAGES", "EventLog",
           "event_log_conf"]


class Tracer:
    """Spans of one run: (id, parent, name, start, end, attrs)."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "name": name, "start": time.perf_counter(), "end": None,
               **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_seconds(self) -> dict[str, float]:
        """Self time summed per span name. Children of a span never
        overlap each other (one thread), so covered time is their sum."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            own = (s["end"] - s["start"]) - child[s["id"]]
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


# stage name -> the names extract_core imported that implement it
KERNEL_STAGES = {
    "select_regions": ("select_regions",),
    "dequantize": ("dequantize_map", "dequantize_logits"),
    "db_postprocess": ("db_postprocess",),
    "sorted_boxes": ("sorted_boxes",),
    "batched_ctc_decode": ("batched_ctc_decode",),
    "cls_decode": ("cls_decode",),
    "table_decode": ("table_decode",),
    "match_result": ("match_result",),
}


@contextlib.contextmanager
def wrap_kernels(tracer: Tracer, module):
    """Route ``module``'s kernel names through ``tracer`` spans named
    ``kernels.<stage>``; restores the originals on exit."""
    saved = {}

    def wrapped(stage, fn):
        def call(*args, **kwargs):
            with tracer.span(f"kernels.{stage}"):
                return fn(*args, **kwargs)
        return call

    try:
        for stage, names in KERNEL_STAGES.items():
            for name in names:
                saved[name] = getattr(module, name)
                setattr(module, name, wrapped(stage, saved[name]))
        yield
    finally:
        for name, fn in saved.items():
            setattr(module, name, fn)


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {"spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
            "spark.eventLog.compress": "false",
            # one plain file per application, named by its id
            "spark.eventLog.rolling.enabled": "false"}


class EventLog:
    """Per-job-group task and stage metrics from one application's
    event log. Groups come from ``spark.jobGroup.id``; a stage belongs
    to the group of the first job that lists it (later jobs skip it)."""

    def __init__(self, path: str):
        self.stage_group: dict[int, str] = {}
        self.jobs: dict[str, int] = {}
        self.tasks: dict[str, list[dict]] = {}
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id", "")
                    self.jobs[group] = self.jobs.get(group, 0) + 1
                    for st in ev.get("Stage Infos", []):
                        self.stage_group.setdefault(st["Stage ID"], group)
                elif kind == "SparkListenerTaskEnd":
                    group = self.stage_group.get(ev["Stage ID"], "")
                    self.tasks.setdefault(group, []).append(_task(ev))

    @staticmethod
    def find(log_dir: str, app_id: str) -> str:
        for name in os.listdir(log_dir):
            if name.startswith(app_id):
                return os.path.join(log_dir, name)
        raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")

    def group(self, prefix: str, cores: int = 1,
              wall_s: float = 0.0) -> dict[str, float]:
        """Summed metrics over every group that starts with ``prefix``."""
        tasks = [t for g, ts in self.tasks.items() if g.startswith(prefix)
                 for t in ts]
        jobs = sum(n for g, n in self.jobs.items() if g.startswith(prefix))
        run = [t["run_ms"] for t in tasks]
        dur = [t["dur_ms"] for t in tasks] or [0.0]
        p50 = statistics.median(dur)
        run_ms = sum(run)
        return {
            "jobs": jobs,
            "stages": len({t["stage"] for t in tasks}),
            "tasks": len(tasks),
            "executor_run_ms": run_ms,
            "scheduler_delay_ms": sum(t["delay_ms"] for t in tasks),
            "gc_ms": sum(t["gc_ms"] for t in tasks),
            "shuffle_write_bytes": sum(t["shuffle_w"] for t in tasks),
            "spill_bytes": sum(t["spill"] for t in tasks),
            "failed_tasks": sum(t["failed"] for t in tasks),
            "task_ms_p50": p50,
            "task_ms_max": max(dur),
            "task_skew": max(dur) / p50 if p50 else 0.0,
            "idle_core_frac": (1.0 - run_ms / 1000.0 / (wall_s * cores)
                               if wall_s else 0.0),
        }


def _task(ev: dict) -> dict:
    info = ev.get("Task Info", {})
    m = ev.get("Task Metrics") or {}
    dur = max(0, info.get("Finish Time", 0) - info.get("Launch Time", 0))
    run = m.get("Executor Run Time", 0)
    overhead = (m.get("Executor Deserialize Time", 0)
                + m.get("Result Serialization Time", 0))
    return {
        "stage": ev["Stage ID"],
        "dur_ms": float(dur),
        "run_ms": float(run),
        "delay_ms": float(max(0, dur - run - overhead)),
        "gc_ms": float(m.get("JVM GC Time", 0)),
        "shuffle_w": float((m.get("Shuffle Write Metrics") or {})
                           .get("Shuffle Bytes Written", 0)),
        "spill": float(m.get("Memory Bytes Spilled", 0)
                       + m.get("Disk Bytes Spilled", 0)),
        "failed": int(bool(info.get("Failed"))
                      or (ev.get("Task End Reason") or {})
                      .get("Reason", "Success") != "Success"),
    }
