"""Tracing for the mail-pipeline benchmark, recorded from outside the
program: spans around calls into the program's public functions, Spark
stage counters read from the application status store, and streaming
progress from a ``StreamingQueryListener``.

Spans stay in memory and are written out once, when the run ends. Stage
counters are read after the listener bus has drained, for the jobs that
started after a mark, so a span's counters cover exactly the work it
caused, whatever job group the program's own threads used.

Layer -> per-layer metric -> end-to-end metric and workload it should move
(the gated workloads are bulk_backfill and report_export; tail_stream runs
on request, see run.py):

================================  ========================================  ===========================
layer                             per-layer metrics                         moves
================================  ========================================  ===========================
sources.logs                      read_amplification, scan_tasks            throughput_per_s, bulk_backfill
operators.parse                   self_s, selectivity                       throughput_per_s, bulk_backfill
spark (whole run)                 core_utilization, jobs, tasks,            every workload
                                  shuffle_write_bytes, spill_bytes
operators.rdns                    distinct_ips, resolver_calls,             throughput_per_s, bulk_backfill
                                  cache_hit_ratio, self_s                   (cold); tail's hot set should hit
operators.range_join / enrich,    explode_factor, geo_hit_ratio, self_s,    throughput_per_s, bulk_backfill
sources.dims                      load_s                                    (paid once per extract);
                                                                            freshness on tail (per batch)
streaming.ingest                  batch_s_p50, add_batch_s_p50,             throughput_per_s, bulk_backfill
                                  planning_s_p50, wal_commit_s_p50,         (run_extract is one batch);
                                  files_per_batch, input_rows_ratio         freshness on tail
sources.store (write side), app   write_s, files_written, bytes_per_event,  throughput_per_s, bulk_backfill
                                  csv_mirror_s
sources.store (read side)         files_total                               latency_p50_s, report_export
report.analyze / report.render    self_s, jobs, input_bytes_ratio           latency_p50_s, report_export
sources.sqlio                     export_s, import_s, rows, quarantined     throughput_per_s, report_export
================================  ========================================  ===========================

Every layer is timed on every workload: bulk_backfill also runs one
report and one SQL export + import over the store its breakdown wrote,
and report_export one extract and a breakdown over a small rotated set.
Those extra figures describe the layer, not the workload's own load.
"""

from __future__ import annotations

import json
import statistics
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener


def median(xs):
    return statistics.median(xs) if xs else 0.0


class StageCounters:
    """Reads per-stage counters of the jobs submitted after ``mark()``
    from the application status store (``lastStageAttempt``)."""

    FIELDS = ("jobs", "stages", "tasks", "input_bytes", "shuffle_write_bytes",
              "spill_bytes", "executor_run_s")

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()

    def _drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty()

    def mark(self) -> int:
        self._drain()
        jobs = self._store.jobsList(None)
        return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)

    def since(self, mark: int) -> dict:
        self._drain()
        out = dict.fromkeys(self.FIELDS, 0)
        jobs = self._store.jobsList(None)
        stage_ids = set()
        for i in range(jobs.size()):
            job = jobs.apply(i)
            if job.jobId() > mark:
                out["jobs"] += 1
                ids = job.stageIds()
                stage_ids.update(ids.apply(k) for k in range(ids.size()))
        for sid in stage_ids:
            try:
                st = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # a skipped stage has no attempt
                continue
            out["stages"] += 1
            out["tasks"] += st.numTasks()
            out["input_bytes"] += st.inputBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out["executor_run_s"] += st.executorRunTime() / 1000.0
        return out


class ProgressListener(StreamingQueryListener):
    """Keeps every non-empty micro-batch progress of the watched queries."""

    def __init__(self):
        self.lock = threading.Lock()
        self.progress: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        if p.numInputRows:
            with self.lock:
                self.progress.append({
                    "batch_id": p.batchId,
                    "num_input_rows": p.numInputRows,
                    "duration_ms": dict(p.durationMs),
                })

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


class Tracer:
    """Spans plus stage counters; a disabled tracer records nothing and
    costs one attribute test per call."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self.counters = StageCounters(spark) if enabled else None
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, **attrs):
        """Time the enclosed call; with tracing on also record its stage
        counters and nest it under the enclosing span."""
        if not self.enabled:
            yield {}
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        mark = self.counters.mark()
        sc = self.spark.sparkContext
        sc.setJobGroup(name, name)
        rec["start_s"] = time.perf_counter() - self._t0
        try:
            yield rec
        finally:
            rec["end_s"] = time.perf_counter() - self._t0
            self._stack.pop()
            if self._stack:
                parent = self.spans[self._stack[-1]]["name"]
                sc.setJobGroup(parent, parent)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
            rec["stages"] = self.counters.since(mark)

    def materialize(self, name: str, df, **attrs) -> dict:
        """Run ``df``'s whole plan with a ``noop`` write under a span."""
        with self.span(name, **attrs) as rec:
            df.write.format("noop").mode("overwrite").save()
        return rec

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"spans": self.spans, **extra}, f, indent=1, default=str)
            f.write("\n")
