"""Tracing for the per-layer run, installed from outside the program.

Nothing here edits the program: the traced run wraps the public calls
into each layer, tags every operation with a Spark job group, reads the
scheduler's numbers from the status store, and registers a streaming
query listener. Spans (name, start, end, parent, operation id) stay in
memory and are written out when the run ends.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    """Spans and per-operation numbers of one traced run."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: int | None = None
        self.checkpoints = 0
        self.progress: list[dict] = []
        self._last_job = -1  # highest job id that ran before the operation
        self._undo: list = []

    # -- spans ---------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        i = self._add(name, time.perf_counter(), None, self._stack[-1] if self._stack else None)
        self._stack.append(i)
        try:
            yield self.spans[i]
        finally:
            self._stack.pop()
            self.spans[i]["end"] = time.perf_counter()

    def _wrap(self, owner, attr: str, name: str, on_result=None):
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name) as rec:
                out = orig(*args, **kwargs)
                if on_result is not None:
                    on_result(rec, out)
                return out

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def install(self) -> None:
        """Wrap the layer boundaries and register the streaming listener."""
        from backend_etl_spark import pipeline, sink

        def rows(rec, n):
            rec["rows"] = n

        def checkpoint(_rec, _out):
            self.checkpoints += 1

        self._wrap(pipeline, "write_idempotent", "sink.write", rows)
        self._wrap(sink.WatermarkStore, "advance", "watermark.advance")
        self._wrap(sink.WatermarkStore, "read", "watermark.read")
        self._wrap(type(self.spark.range(0)), "localCheckpoint", "session.localCheckpoint",
                   checkpoint)
        self._listener = _ProgressListener(self.progress)
        self.spark.streams.addListener(self._listener)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()
        self.spark.streams.removeListener(self._listener)

    # -- operations ----------------------------------------------------
    def begin(self, op_id: int) -> None:
        self.op_id = op_id
        self.checkpoints = 0
        self.progress.clear()
        self._last_job = max(
            (j.jobId() for j in _seq(self.sc._jsc.sc().statusStore().jobsList(None))),
            default=-1,
        )
        self.sc.setJobGroup(f"perfbench-op-{op_id}", f"operation {op_id}")

    def end(self, name: str, t0: float, t1: float, parts=()) -> dict:
        """Close the operation that ran between ``t0`` and ``t1``
        (perf_counter seconds): record its span and the spans of its
        ``parts`` ((name, start, end) phases timed by the caller), parent
        the layer spans recorded meanwhile under them, and return its
        scheduler, checkpoint and streaming numbers."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        self.sc.setJobGroup("perfbench-idle", "between operations")
        root = self._add(name, t0, t1, None)
        kids = [self._add(n, s, e, root) for n, s, e in parts]
        for i, sp in enumerate(self.spans):
            if sp["op"] == self.op_id and sp["parent"] is None and i != root:
                sp["parent"] = next((k for k in kids if self.spans[k]["start"] <= sp["start"]
                                     < self.spans[k]["end"]), root)
        out = {"session.checkpoints": self.checkpoints,
               **self._scheduler(t0, t1), **_streaming(self.progress)}
        self.op_id = None
        return out

    def _add(self, name: str, start: float, end: float, parent: int | None) -> int:
        self.spans.append({"name": name, "op": self.op_id, "parent": parent,
                           "start": start, "end": end})
        return len(self.spans) - 1

    def _scheduler(self, t0: float, t1: float) -> dict:
        """Jobs of this operation from the status store: those in its job
        group, plus streaming jobs (their query sets its own job group)
        submitted while it ran."""
        store = self.sc._jsc.sc().statusStore()
        group = f"perfbench-op-{self.op_id}"
        stage_ids, n_jobs = set(), 0
        for job in _seq(store.jobsList(None)):
            if job.jobId() <= self._last_job:
                continue
            g = job.jobGroup()
            in_group = g.isDefined() and g.get() == group
            if in_group or not (g.isDefined() and g.get().startswith("perfbench-")):
                n_jobs += 1
                stage_ids.update(int(s) for s in _seq(job.stageIds()))
        empty = self.sc._gateway.new_array(self.sc._gateway.jvm.double, 0)
        n_stages = n_tasks = run_ms = shuffle = 0
        intervals = []
        for st in _seq(store.stageList(None, False, False, empty, None)):
            if st.stageId() not in stage_ids or not st.submissionTime().isDefined():
                continue
            n_stages += 1
            n_tasks += st.numTasks()
            run_ms += st.executorRunTime()
            shuffle += st.shuffleReadBytes() + st.shuffleWriteBytes()
            if st.completionTime().isDefined():
                intervals.append((st.submissionTime().get().getTime(),
                                  st.completionTime().get().getTime()))
        busy = _union_ms(intervals) / 1000.0
        return {
            "spark.jobs": n_jobs,
            "spark.stages": n_stages,
            "spark.tasks": n_tasks,
            "spark.task_s": run_ms / 1000.0,
            "spark.shuffle_bytes": shuffle,
            "spark.driver_s": max(0.0, (t1 - t0) - busy),
        }

    def op_spans(self, op_id: int, name: str) -> list[dict]:
        """Spans called ``name`` directly under operation ``op_id``'s span."""
        return [s for s in self.spans if s["op"] == op_id and s["name"] == name
                and s["parent"] is not None and self.spans[s["parent"]]["parent"] is None]


class _ProgressListener(StreamingQueryListener):
    def __init__(self, sink: list):
        self.sink = sink

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        self.sink.append({
            "id": str(p.id),
            "duration_ms": dict(p.durationMs),
            "state": [(s.numRowsTotal, s.commitTimeMs, s.memoryUsedBytes)
                      for s in p.stateOperators],
        })

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def _seq(scala_seq):
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()


def _union_ms(intervals: list[tuple[int, int]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _streaming(progress: list[dict]) -> dict:
    def phase(key):
        return sum(p["duration_ms"].get(key, 0) for p in progress) / 1000.0

    last = {}  # query id -> state operators of its last batch
    for p in progress:
        last[p["id"]] = p["state"]
    return {
        "streaming.batches": len(progress),
        "streaming.add_batch_s": phase("addBatch"),
        "streaming.planning_s": phase("queryPlanning"),
        "streaming.wal_commit_s": phase("walCommit"),
        "streaming.commit_offsets_s": phase("commitOffsets"),
        "streaming.state_commit_s": sum(c for p in progress for _, c, _ in p["state"]) / 1000.0,
        "streaming.state_rows": sum(r for ops in last.values() for r, _, _ in ops),
        "streaming.state_bytes": sum(b for ops in last.values() for _, _, b in ops),
    }
