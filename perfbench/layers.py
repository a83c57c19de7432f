"""Per-layer tracing for the benchmark worker.

Everything here reads what Spark already keeps in the driver JVM:

* job and stage IDs come from the DAG scheduler's counters, so a
  query's jobs are counted by ID delta (jobs run on a streaming
  thread carry no job group, and the status store drops stages past
  its retention limit);
* job times and stage task metrics come from the status store,
  serialized to JSON in one py4j call per object;
* micro-batch timings come from a ``StreamingQueryListener``.

Spans are kept in memory and written once, by the worker, at the end
of the run.
"""

from __future__ import annotations

import json
import os
import statistics

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

MB = 1024 * 1024


class _StreamStats(StreamingQueryListener):
    """Accumulates micro-batch progress until ``take()`` is called.

    ``add_batch_s`` and ``commit_s`` (WAL + offset commit) are driver wall
    time per batch; ``state_commit_s`` is summed over state-store
    partitions, so it is task time and can exceed the batch's wall time.
    """

    def __init__(self):
        self._reset()

    def _reset(self):
        self.batches = 0
        self.empty = 0
        self.add_batch_ms = 0
        self.commit_ms = 0
        self.state_commit_ms = 0

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        d = p.durationMs or {}
        self.batches += 1
        self.empty += int(p.numInputRows == 0)
        self.add_batch_ms += d.get("addBatch", 0)
        self.commit_ms += d.get("walCommit", 0) + d.get("commitOffsets", 0)
        self.state_commit_ms += sum(op.commitTimeMs or 0 for op in p.stateOperators or [])

    def onQueryTerminated(self, event):
        pass

    def take(self) -> dict:
        out = {
            "batches": self.batches,
            "empty_batches": self.empty,
            "add_batch_s": self.add_batch_ms / 1000,
            "commit_s": self.commit_ms / 1000,
            "state_commit_s": self.state_commit_ms / 1000,
        }
        self._reset()
        return out


def _union_s(intervals, lo, hi) -> float:
    """Wall seconds of [lo, hi] covered by the union of ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, end = 0.0, lo
    for a, b in clipped:
        a = max(a, end)
        if b > a:
            total += b - a
            end = b
    return total


class Tracer:
    def __init__(self, spark):
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        jvm = sc._jvm
        self._dag = jsc.dagScheduler()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._json.registerModule(jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
        self.stream = _StreamStats()
        spark.streams.addListener(self.stream)
        self.spans: list[dict] = []

    def discard_stream_progress(self) -> None:
        """Drop progress reported before now (e.g. during an untraced pass)."""
        self._bus.waitUntilEmpty()
        self.stream.take()

    def ids(self) -> tuple[int, int]:
        """(next job ID, next stage ID)."""
        return self._dag.numTotalJobs(), self._dag.nextStageId()

    def span(self, name, parent, t0, t1, **attrs) -> int:
        self.spans.append({"id": len(self.spans), "name": name, "parent": parent, "t0": t0, "t1": t1, **attrs})
        return len(self.spans) - 1

    def _get(self, fn, key):
        try:
            return json.loads(self._json.writeValueAsString(fn(key)))
        except Py4JJavaError:
            return None  # NoSuchElementException: dropped by retention or never registered

    def record_query(self, qspan: int, rec: dict, ids: dict, tmp_dirs: int) -> dict:
        """Attach the query's jobs/stages/stream progress; return its layer totals.

        Jobs and stages are counted by ID delta; the status store is only
        read for their times and task metrics."""
        self._bus.waitUntilEmpty()
        phase_spans = {}
        for phase in ("clear", "build", "exec", "release"):
            if phase in rec:
                t0, t1 = rec[phase]
                phase_spans[phase] = self.span(phase, qspan, t0, t1)
        jobs = {"build": [], "exec": []}
        for phase, (lo, hi) in (("build", (ids["build"][0], ids["exec"][0])), ("exec", (ids["exec"][0], ids["end"][0]))):
            for job_id in range(lo, hi):
                j = self._get(self._store.job, job_id)
                if not j or not j.get("submissionTime"):
                    continue
                a = j["submissionTime"] / 1000
                b = (j.get("completionTime") or j["submissionTime"]) / 1000
                jobs[phase].append((a, b))
                self.span("job", phase_spans.get(phase), a, b, job_id=job_id, stages=len(j.get("stageIds") or []))
        tot = {
            "stages": 0, "tasks": 0, "failed_tasks": 0, "task_run_s": 0.0, "task_cpu_s": 0.0,
            "gc_s": 0.0, "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
            "input_mb": 0.0, "output_mb": 0.0, "stages_missing": 0,
        }
        for stage_id in range(ids["build"][1], ids["end"][1]):
            s = self._get(self._store.lastStageAttempt, stage_id)
            if s is None:
                tot["stages_missing"] += 1
                continue
            if s.get("status") == "SKIPPED":
                continue
            tot["stages"] += 1
            tot["tasks"] += s["numCompleteTasks"] + s["numFailedTasks"]
            tot["failed_tasks"] += s["numFailedTasks"]
            tot["task_run_s"] += s["executorRunTime"] / 1000
            tot["task_cpu_s"] += s["executorCpuTime"] / 1e9
            tot["gc_s"] += s["jvmGcTime"] / 1000
            tot["shuffle_read_mb"] += s["shuffleReadBytes"] / MB
            tot["shuffle_write_mb"] += s["shuffleWriteBytes"] / MB
            tot["spill_mb"] += (s["memoryBytesSpilled"] + s["diskBytesSpilled"]) / MB
            tot["input_mb"] += s["inputBytes"] / MB
            tot["output_mb"] += s["outputBytes"] / MB
        b0, b1 = rec["build"]
        e0, e1 = rec["exec"]
        eager_s = _union_s(jobs["build"], b0, b1)
        exec_jobs_s = _union_s(jobs["exec"], e0, e1)
        children = sum(t1 - t0 for t0, t1 in (rec[p] for p in phase_spans))
        q0, q1 = rec["t0"], rec["t1"]
        tot.update(
            build_s=b1 - b0,
            build_py_s=b1 - b0 - eager_s,
            eager_jobs=ids["exec"][0] - ids["build"][0],
            eager_job_s=eager_s,
            exec_s=e1 - e0,
            exec_plan_s=e1 - e0 - exec_jobs_s,
            jobs=ids["end"][0] - ids["build"][0],
            clear_s=(rec["clear"][1] - rec["clear"][0]) if "clear" in rec else 0.0,
            memo_entries_cleared=rec.get("cleared", 0),
            release_s=rec["release"][1] - rec["release"][0],
            released_frames=rec.get("released", 0),
            tmp_dirs=tmp_dirs,
            coverage=children / (q1 - q0) if q1 > q0 else 1.0,
        )
        tot["task_wait_s"] = tot["task_run_s"] - tot["task_cpu_s"]
        stream = self.stream.take()
        self.spans[qspan].update(stream)
        tot.update(stream)
        return tot

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": self.spans}, fh)


def layer_metrics(pass_totals: list[dict], setup_s: float) -> dict[str, tuple[float, str]]:
    """Median over traced passes of each pass's per-layer totals."""

    def med(key):
        return statistics.median(p[key] for p in pass_totals)

    def frac(p):
        return p["empty_batches"] / p["batches"] if p["batches"] else 0.0

    return {
        "session.start_s": (setup_s, "s"),
        "operators.build_s": (med("build_s"), "s"),
        "operators.build_py_s": (med("build_py_s"), "s"),
        "operators.eager_jobs": (med("eager_jobs"), "count"),
        "operators.eager_job_s": (med("eager_job_s"), "s"),
        "spark.exec_s": (med("exec_s"), "s"),
        "spark.exec_plan_s": (med("exec_plan_s"), "s"),
        "spark.jobs": (med("jobs"), "count"),
        "spark.stages": (med("stages"), "count"),
        "spark.tasks": (med("tasks"), "count"),
        "spark.task_run_s": (med("task_run_s"), "s"),
        "spark.task_cpu_s": (med("task_cpu_s"), "s"),
        "spark.task_wait_s": (med("task_wait_s"), "s"),
        "spark.gc_s": (med("gc_s"), "s"),
        "spark.shuffle_read_mb": (med("shuffle_read_mb"), "MB"),
        "spark.shuffle_write_mb": (med("shuffle_write_mb"), "MB"),
        "spark.spill_mb": (med("spill_mb"), "MB"),
        "spark.failed_tasks": (med("failed_tasks"), "count"),
        "sources.input_mb": (med("input_mb"), "MB"),
        "sources.output_mb": (med("output_mb"), "MB"),
        "caching.clear_s": (med("clear_s"), "s"),
        "caching.memo_entries_cleared": (med("memo_entries_cleared"), "count"),
        "caching.release_s": (med("release_s"), "s"),
        "caching.released_frames": (med("released_frames"), "count"),
        "streaming.batches": (med("batches"), "count"),
        "streaming.empty_batch_frac": (statistics.median(frac(p) for p in pass_totals), "ratio"),
        "streaming.add_batch_s": (med("add_batch_s"), "s"),
        "streaming.commit_s": (med("commit_s"), "s"),
        "streaming.state_commit_s": (med("state_commit_s"), "s"),
        "streaming.tmp_dirs": (med("tmp_dirs"), "count"),
    }
