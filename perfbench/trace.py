"""Benchmark-side tracing: spans around calls into the engine's layers.

A span sets its own Spark job group, so every job an engine call starts
is attributed to exactly one span. When the span closes it reads the
job, stage and task counts of that group from ``statusTracker`` and the
change in every counter it watches (for example the decoder-call
accumulator). Spans nest; a child span's jobs are its own, not its
parent's. Nothing here reaches inside the engine: the spans are opened
only from this benchmark's files.

With tracing off, ``span`` makes no Spark calls and records nothing, so
the untraced run measures the engine alone.
"""

from __future__ import annotations

import contextlib
import os
import time

from pdf_to_vectordb_etl_spark.sources.synthetic import synthetic_pdf_decoder


class CountingDecoder:
    """``sources.pdf.PageDecoder`` that counts its calls in a Spark
    accumulator and then decodes with ``synthetic_pdf_decoder``.

    A module-level class so executors import it by name."""

    def __init__(self, accumulator):
        self.calls = accumulator

    def __call__(self, path: str, content: bytes) -> list[dict]:
        self.calls.add(1)
        return synthetic_pdf_decoder(path, content)


class Tracer:
    """In-memory span ledger for one benchmark run."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counters: dict[str, object] = {}
        self._stack: list[dict] = []
        self._t0 = time.perf_counter()

    def watch(self, name: str, accumulator) -> None:
        """Record the change of ``accumulator`` in every span."""
        self.counters[name] = accumulator

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "job_group": f"perfbench-{len(self.spans)}",
            **attrs,
        }
        t_enter = time.perf_counter()
        self.spans.append(rec)
        self._stack.append(rec)
        before = {k: acc.value for k, acc in self.counters.items()}
        sc.setJobGroup(rec["job_group"], name)
        rec["start_s"] = time.perf_counter() - self._t0
        try:
            yield rec
        finally:
            rec["end_s"] = time.perf_counter() - self._t0
            self._stack.pop()
            if parent:
                sc.setJobGroup(parent["job_group"], parent["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            rec.update({k: acc.value - before[k] for k, acc in self.counters.items()})
            rec.update(self._job_stats(rec["job_group"]))
            # the time this span's own bookkeeping added around the call
            body = rec["end_s"] - rec["start_s"]
            rec["overhead_s"] = time.perf_counter() - t_enter - body

    def _job_stats(self, group: str) -> dict:
        sc = self.spark.sparkContext
        # job and task events reach the status store through the
        # listener bus; drain it so the counts below are complete
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages = tasks = failed = 0
        for job_id in jobs:
            job = tracker.getJobInfo(job_id)
            for stage_id in job.stageIds if job else ():
                info = tracker.getStageInfo(stage_id)
                if info is None or info.numCompletedTasks + info.numFailedTasks == 0:
                    continue  # evicted, or skipped because its shuffle output existed
                stages += 1
                tasks += info.numCompletedTasks
                failed += info.numFailedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed_tasks": failed}

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]


UNTRACED = Tracer(None, enabled=False)
"""Pass where no spans are wanted: its ``span`` does nothing."""


def process_tree(root_pid: int) -> list[int]:
    """``root_pid`` and all its descendants, from ``/proc``."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # exited while we looked
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def peak_rss_mb(pids: list[int]) -> dict[int, float]:
    """Each process's peak resident set (``VmHWM``), in MiB."""
    out = {}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        out[pid] = int(line.split()[1]) / 1024.0
                        break
        except OSError:
            continue  # a worker that already exited
    return out


def cpu_times() -> list[int]:
    """The machine-wide ``cpu`` line of ``/proc/stat``, in ticks."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_times`` readings (the 8th field is steal)."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / sum(delta) if sum(delta) else 0.0


def calibration_s(spark) -> float:
    """Fixed-work probe: best of three JVM-side range sums. The same
    work on every commit, so a box that is uniformly slow on one run
    shows here rather than as a regression."""
    runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(200_000_000).selectExpr("sum(id)").collect()
        runs.append(time.perf_counter() - t0)
    return min(runs)
