"""Traced run: spans around the engine's public methods, Spark job
groups around each outer call, and a parser for Spark's event log.

Nothing here changes the engine. The wrappers replace public methods
on their classes for the lifetime of one benchmark process; each
wrapper records a span (name, start, end, thread) and calls through.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import threading
import time

# span label -> (module, class, public method) wrapped in a traced run
WRAPPED = {
    "runner.apply_batch": ("runner", "CdcApplyJob", "apply_batch"),
    "lakestore.merge": ("lakestore", "LakeTable", "merge"),
    "lakestore.merge_mor": ("lakestore", "LakeTable", "merge_mor"),
    "lakestore.adopt_delta": ("lakestore", "LakeTable", "adopt_delta"),
    "lakestore.compact": ("lakestore", "LakeTable", "compact"),
    "lakestore.manifest": ("lakestore", "LakeTable", "manifest"),
    "lakestore.read_for_keys": ("lakestore", "LakeTable", "read_for_keys"),
    "lakestore.buckets_for_keys": ("lakestore", "LakeTable", "buckets_for_keys"),
}
# lakestore write spans: subtracted from apply_batch for runner self time
WRITE_SPANS = (
    "lakestore.merge",
    "lakestore.merge_mor",
    "lakestore.adopt_delta",
    "lakestore.compact",
)
# wrapped calls that get their own Spark job group (outer calls only)
GROUPED = {"runner.apply_batch": "apply_batch", "lakestore.compact": "compact"}
# every job group a traced run reports executor time for
GROUPS = ("apply_batch", "compact", "read_round", "unattributed")


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[tuple[str, float, float, int]] = []
        self.recording = False
        self._saved: list[tuple[type, str, object]] = []
        self._lock = threading.Lock()

    # ------------------------------------------------------------ spans

    def install(self) -> "Tracer":
        import mysql_tracker_spark.lakestore as lakestore
        import mysql_tracker_spark.runner as runner

        mods = {"runner": runner, "lakestore": lakestore}
        for label, (mod, cls_name, meth) in WRAPPED.items():
            cls = getattr(mods[mod], cls_name)
            orig = cls.__dict__[meth]
            self._saved.append((cls, meth, orig))
            setattr(cls, meth, self._wrap(label, orig))
        return self

    def uninstall(self) -> None:
        for cls, meth, orig in reversed(self._saved):
            setattr(cls, meth, orig)
        self._saved.clear()

    def _wrap(self, label: str, fn):
        tracer = self
        group = GROUPED.get(label)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.recording:
                return fn(*args, **kwargs)
            if group is not None:
                prev = tracer.sc.getLocalProperty("spark.jobGroup.id")
                tracer.group(group)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                t1 = time.perf_counter()
                with tracer._lock:
                    tracer.spans.append((label, t0, t1, threading.get_ident()))
                if group is not None:
                    tracer.group(prev)

        return wrapper

    def group(self, name: str | None) -> None:
        """Tag the calling thread's following Spark jobs (None clears)."""
        if name is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(name, name)

    # ---------------------------------------------------------- summary

    def total(self, label: str) -> float:
        return sum(t1 - t0 for lab, t0, t1, _ in self.spans if lab == label)

    def count(self, label: str) -> int:
        return sum(1 for lab, *_ in self.spans if lab == label)

    def runner_self_s(self) -> float:
        """apply_batch span time minus the part of it covered by
        lakestore write spans on the same thread."""
        total = 0.0
        batches = [s for s in self.spans if s[0] == "runner.apply_batch"]
        writes = [s for s in self.spans if s[0] in WRITE_SPANS]
        for _, b0, b1, tid in batches:
            inside = sorted(
                (max(w0, b0), min(w1, b1))
                for _, w0, w1, wt in writes
                if wt == tid and w1 > b0 and w0 < b1
            )
            covered, end = 0.0, b0
            for w0, w1 in inside:
                w0 = max(w0, end)
                if w1 > w0:
                    covered += w1 - w0
                    end = w1
            total += (b1 - b0) - covered
        return total


# ----------------------------------------------------------- event log


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    covered, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            covered += b - a
            end = b
        elif b > end:
            covered += b - end
            end = b
    return covered


def parse_event_log(log_dir: str, t0_ms: int, t1_ms: int, n_cores: int) -> dict:
    """Fold the tasks of jobs submitted inside [t0_ms, t1_ms] (epoch
    ms) into Spark-side per-layer metrics, name -> (value, unit). Jobs
    on the runner's prefetch thread carry no job group; they are
    counted as unattributed, not dropped."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    if not files:
        raise FileNotFoundError(f"no Spark event log under {log_dir}")
    path = max(files, key=os.path.getmtime)
    job_group: dict[int, str] = {}
    stage_job: dict[int, int] = {}
    tasks = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                if not t0_ms <= ev["Submission Time"] <= t1_ms:
                    continue
                props = ev.get("Properties") or {}
                job_group[ev["Job ID"]] = props.get("spark.jobGroup.id") or "unattributed"
                for sid in ev["Stage IDs"]:
                    stage_job[sid] = ev["Job ID"]
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                if sid not in stage_job:
                    continue
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                tasks.append(
                    {
                        "stage": sid,
                        "group": job_group[stage_job[sid]],
                        "launch": info["Launch Time"],
                        "finish": info["Finish Time"],
                        "run_ms": m.get("Executor Run Time", 0),
                        "cpu_ns": m.get("Executor CPU Time", 0),
                        "gc_ms": m.get("JVM GC Time", 0),
                        "sh_w": sw.get("Shuffle Bytes Written", 0),
                        "sh_r": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    }
                )
    run_s = sum(t["run_ms"] for t in tasks) / 1e3
    cpu_s = sum(t["cpu_ns"] for t in tasks) / 1e9
    wall_ms = max(t1_ms - t0_ms, 1)
    busy_ms = sum(t["finish"] - t["launch"] for t in tasks)
    clipped = [(max(t["launch"], t0_ms), min(t["finish"], t1_ms)) for t in tasks]
    idle_ms = wall_ms - _union_ms([iv for iv in clipped if iv[1] > iv[0]])
    by_stage: dict[int, list[int]] = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t["finish"] - t["launch"])
    skew = max(
        (max(d) / max(statistics.median(d), 1) for d in by_stage.values() if len(d) >= 2),
        default=1.0,
    )
    out = {
        "spark.jobs": (len(job_group), "count"),
        "spark.unattributed_jobs": (
            sum(1 for g in job_group.values() if g == "unattributed"),
            "count",
        ),
        "spark.tasks": (len(tasks), "count"),
        "spark.executor_run_s": (run_s, "s"),
        "spark.executor_cpu_s": (cpu_s, "s"),
        "spark.python_gap_s": (max(run_s - cpu_s, 0.0), "s"),
        "spark.gc_s": (sum(t["gc_ms"] for t in tasks) / 1e3, "s"),
        "spark.shuffle_write_bytes": (sum(t["sh_w"] for t in tasks), "B"),
        "spark.shuffle_read_bytes": (sum(t["sh_r"] for t in tasks), "B"),
        "spark.spill_bytes": (sum(t["spill"] for t in tasks), "B"),
        "spark.stage_skew_max": (skew, "ratio"),
        "spark.core_busy_ratio": (busy_ms / (wall_ms * n_cores), "ratio"),
        "spark.driver_gap_s": (idle_ms / 1e3, "s"),
    }
    for g in GROUPS:
        run_ms = sum(t["run_ms"] for t in tasks if t["group"] == g)
        out[f"spark.group_{g}_run_s"] = (run_ms / 1e3, "s")
    return out
