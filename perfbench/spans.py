"""Spans around calls into the engine, counted from Spark's status stores.

The benchmark never instruments the engine itself.  Each timed call runs
inside :meth:`Tracer.span`, which tags the Spark work with a unique job
group and, when tracing is on, reads what that work did from the two
status stores (both work with ``spark.ui.enabled=false``):

* ``sc.statusStore()`` — the jobs submitted while the span ran (by job
  id, so a streaming query's own job group is still attributed) and their
  stages: tasks, executor CPU, shuffle-write, spill and task output bytes;
* ``sharedState().statusStore()`` — SQL executions: the write commands'
  ``number of written files``.

Spans stay in memory; :meth:`Tracer.totals` folds them per span name.
"""

from __future__ import annotations

import os
import time
from collections import defaultdict
from contextlib import contextmanager

COUNTERS = (
    "wall_s",
    "calls",
    "jobs",
    "stages",
    "tasks",
    "executor_cpu_s",
    "shuffle_write_bytes",
    "spill_bytes",
    "bytes_written",
    "files_written",
    "error_lines",
    "warn_lines",
)


class LogCounter:
    """Counts ``ERROR``/``WARN`` lines the run writes to its stderr.

    The stderr file descriptor is pointed at a file before the JVM starts,
    so the JVM's log4j output lands there too; a span's lines are those
    appended while it ran."""

    def __init__(self, path: str):
        self.path = path
        self._fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
        os.dup2(self._fd, 2)

    def offset(self) -> int:
        return os.path.getsize(self.path)

    def count(self, start: int) -> tuple[int, int]:
        """``(ERROR, WARN)`` lines written since byte offset ``start``."""
        with open(self.path, "rb") as f:
            f.seek(start)
            data = f.read()
        err = warn = 0
        for line in data.splitlines():
            if b" ERROR " in line:
                err += 1
            elif b" WARN " in line:
                warn += 1
        return err, warn


class Tracer:
    """Spans of one closed-loop client; counters only when ``enabled``."""

    def __init__(self, spark, enabled: bool, logs: LogCounter | None = None):
        self.enabled = enabled
        self.logs = logs
        self.spans: list[dict] = []
        self.tag: int | None = None  # the pass a span belongs to; None = set-up
        self.overhead_s = 0.0  # time the status-store reads themselves took
        self._seq = 0
        self._counted: set[tuple[int, int]] = set()
        sc = spark.sparkContext
        self._sc = sc
        self._core = sc._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        # resolve JVM objects once: each py4j attribute hop is a round trip
        self._empty_list = sc._jvm.java.util.ArrayList()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)

    @contextmanager
    def span(self, name: str):
        """Time the enclosed calls; with tracing on, also count their work.

        Work is attributed by the jobs and SQL executions that appeared
        while the span ran (a streaming query runs its batches on its own
        thread and job group; a single client keeps attribution exact)."""
        self._seq += 1
        self._sc.setJobGroup(f"{name}#{self._seq}", name, False)
        b0 = time.perf_counter()
        if self.enabled:
            first_job = self._next_job_id()
            exec_before = self._execution_count()
            log0 = self.logs.offset() if self.logs else None
        t0 = time.perf_counter()
        try:
            yield
        finally:
            wall = time.perf_counter() - t0
            self._sc._jsc.clearJobGroup()
        rec = {"name": name, "pass": self.tag, "wall_s": wall}
        if self.enabled:
            b1 = time.perf_counter()
            self._core.listenerBus().waitUntilEmpty()
            rec.update(self._stage_counts(first_job))
            rec["files_written"] = self._files_written(exec_before)
            if log0 is not None:
                rec["error_lines"], rec["warn_lines"] = self.logs.count(log0)
            self.overhead_s += (t0 - b0) + (time.perf_counter() - b1)
        self.spans.append(rec)

    def times(self, name: str) -> list[float]:
        return [s["wall_s"] for s in self.spans if s["name"] == name]

    def totals(self) -> dict[str, dict[str, float]]:
        out: dict[str, dict[str, float]] = defaultdict(
            lambda: dict.fromkeys(COUNTERS, 0)
        )
        for s in self.spans:
            agg = out[s["name"]]
            agg["calls"] += 1
            for k, v in s.items():
                if k not in ("name", "pass"):
                    agg[k] += v
        return dict(out)

    # -- status-store reads ------------------------------------------------

    @staticmethod
    def _seq_to_list(seq):
        # element access, not a collection converter: py4j resolves the
        # converter's many overloads by reflection on every call
        return [seq.apply(i) for i in range(seq.length())]

    def _next_job_id(self) -> int:
        return int(self._core.dagScheduler().nextJobId())

    def _stage_counts(self, first_job: int) -> dict[str, float]:
        """Sum the stages of the jobs submitted since ``first_job``; a stage
        attempt counts once, in the span that first saw it (a later job
        that reuses its shuffle output lists it again)."""
        store = self._core.statusStore()
        out = dict.fromkeys(
            (
                "jobs",
                "stages",
                "tasks",
                "executor_cpu_s",
                "shuffle_write_bytes",
                "spill_bytes",
                "bytes_written",
            ),
            0,
        )
        stage_ids: set[int] = set()
        for job_id in range(first_job, self._next_job_id()):
            out["jobs"] += 1
            job = store.job(job_id)
            stage_ids.update(int(i) for i in self._seq_to_list(job.stageIds()))
        for stage_id in sorted(stage_ids):
            # py4j has no default arguments: all five stageData parameters
            attempts = store.stageData(
                stage_id, False, self._empty_list, False, self._no_quantiles
            )
            for st in self._seq_to_list(attempts):
                key = (stage_id, int(st.attemptId()))
                if key in self._counted or st.status().toString() == "SKIPPED":
                    continue
                self._counted.add(key)
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["executor_cpu_s"] += st.executorCpuTime() / 1e9
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                out["bytes_written"] += st.outputBytes()
        return out

    def _execution_count(self) -> int:
        return int(self._sql.executionsCount())

    def _new_executions(self, before: int):
        """SQL executions started since the store held ``before``."""
        n = self._execution_count()
        return self._seq_to_list(self._sql.executionsList(before, n - before))

    def _files_written(self, before: int) -> int:
        files = 0
        for e in self._new_executions(before):
            ids = [
                m.accumulatorId()
                for m in self._seq_to_list(e.metrics())
                if m.name() == "number of written files"
            ]
            if not ids:
                continue
            values = self._sql.executionMetrics(e.executionId())
            for acc in ids:
                v = values.get(acc)
                if v is not None and not v.isEmpty():
                    files += int(str(v.get()).replace(",", ""))
        return files
