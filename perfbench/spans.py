"""The traced run: spans recorded around calls into the program's public
functions, from the benchmark's own files, plus the Spark event log of
the benchmark's session.

Spans ``(name, start, end, parent, run id)`` stay in memory and are
written out when the run ends.  A layer's self time is a span's duration
minus the part covered by its child spans.
"""

from __future__ import annotations

import collections
import contextlib
import functools
import glob
import json
import os
import statistics
import threading
import time

#: span name prefix -> layer (module) it times
LAYERS = {
    "pipeline.": "streaming.pipeline + operators.batching",
    "merge.": "operators.merge + operators.lww",
    "table.write_delta": "catalog.table (write)",
    "table.stage_summary": "catalog.table (write)",
    "table.offsets_row": "catalog.table (write)",
    "snapshot.": "catalog.snapshot",
    "compact.": "operators.compact",
    "table.read": "catalog.table (read)",
    "table.scan": "catalog.table (read)",
    "ann.": "functions.ann_index + catalog.meta",
    "io.": "pyarrow file reads",
}

#: every per-layer metric, with its unit; a workload that does not
#: exercise a layer reports 0 for it
PER_LAYER = {
    "pipeline.plan_ms": "ms",
    "pipeline.epochs": "count",
    "merge.apply_ms": "ms",
    "merge.prepare_ms": "ms",
    "merge.events_in": "count",
    "merge.keys_applied": "count",
    "merge.collapse_ratio": "ratio",
    "table.write_delta_ms": "ms",
    "table.stage_summary_ms": "ms",
    "table.offsets_row_ms": "ms",
    "table.delta_files_per_epoch": "count",
    "table.bytes_written_per_event": "bytes",
    "snapshot.commit_ms": "ms",
    "snapshot.manifest_kb": "kb",
    "snapshot.conflicts": "count",
    "compact.fold_ms": "ms",
    "compact.folds": "count",
    "compact.fold_bytes_rewritten": "bytes",
    "compact.live_delta_files": "count",
    "table.read_files_per_lookup": "count",
    "table.read_rows_per_hit": "count",
    "ann.add_ms": "ms",
    "ann.remove_ms": "ms",
    "ann.meta_commit_ms": "ms",
    "ann.probe_files": "count",
    "ann.probe_rows_read": "count",
    "ann.index_files": "count",
    "ann.recall_at_20": "ratio",
    "spark.jobs_per_epoch": "count",
    "spark.task_ms": "ms",
    "spark.sched_delay_ms": "ms",
    "spark.gc_ms": "ms",
    "spark.shuffle_write_bytes_per_event": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.task_skew": "ratio",
    "spark.codegen_compiles": "count",
}


class Tracer:
    """Span recorder.  ``enabled=False`` makes every span and wrapper a
    no-op, so the untraced run executes the same benchmark code."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[list] = []  # [name, start, end, parent, thread, info]
        self.values: dict[str, list[float]] = collections.defaultdict(list)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple] = []
        self.window = (0.0, 0.0)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        rec = [name, time.time(), None, stack[-1] if stack else None, threading.get_ident(), {}]
        with self._lock:
            idx = len(self.spans)
            self.spans.append(rec)
        stack.append(idx)
        try:
            yield rec
        finally:
            stack.pop()
            rec[2] = time.time()

    def add(self, key: str, value: float) -> None:
        if self.enabled:
            with self._lock:
                self.values[key].append(float(value))

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` by a spanned call; ``on_result(info,
        args, kwargs, result)`` records into the span's ``info`` dict
        what the call returned."""
        if not self.enabled:
            return
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        static = isinstance(orig, staticmethod)
        fn = orig.__func__ if static else orig

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name) as rec:
                try:
                    out = fn(*args, **kwargs)
                except Exception as e:
                    self.add(f"{name}.error.{type(e).__name__}", 1)
                    raise
                if on_result is not None:
                    on_result(rec[5], args, kwargs, out)
            return out

        setattr(owner, attr, staticmethod(wrapper) if static else wrapper)
        self._undo.append((owner, attr, orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    # -- analysis ------------------------------------------------------
    def in_window(self, name: str) -> list[list]:
        lo, hi = self.window
        return [s for s in self.spans if s[0] == name and s[2] is not None and lo <= s[1] <= hi]

    def durations_ms(self, name: str) -> list[float]:
        return [(s[2] - s[1]) * 1000.0 for s in self.in_window(name)]

    def info_sum(self, name: str, key: str) -> float:
        return float(sum(s[5].get(key, 0) for s in self.in_window(name)))

    def _kids(self) -> dict[int, list[int]]:
        kids = collections.defaultdict(list)
        for i, s in enumerate(self.spans):
            if s[3] is not None:
                kids[s[3]].append(i)
        return kids

    def children(self, parent_name: str, child_prefix: str) -> list[list[list]]:
        """For each window span named ``parent_name``: its descendant
        spans whose name starts with ``child_prefix``."""
        kids = self._kids()
        index = {id(s): i for i, s in enumerate(self.spans)}
        out = []
        for p in self.in_window(parent_name):
            found, todo = [], [index[id(p)]]
            while todo:
                for c in kids[todo.pop()]:
                    if self.spans[c][0].startswith(child_prefix):
                        found.append(self.spans[c])
                    todo.append(c)
            out.append(found)
        return out

    def self_times(self) -> dict[str, float]:
        """Seconds of self time per span name inside the window."""
        children = self._kids()
        lo, hi = self.window
        out: dict[str, float] = collections.defaultdict(float)
        for i, s in enumerate(self.spans):
            if s[2] is None or not lo <= s[1] <= hi:
                continue
            covered, edge = 0.0, s[1]
            for a, b in sorted((self.spans[c][1], self.spans[c][2] or s[2]) for c in children[i]):
                a, b = max(a, edge), min(b, s[2])
                if b > a:
                    covered += b - a
                    edge = b
            out[s[0]] += (s[2] - s[1]) - covered
        return dict(out)

    def layer_shares(self) -> dict[str, float]:
        """Self time per layer as a share of the window's wall time (the
        pipelined replay overlaps layers, so shares may sum above 1)."""
        span_s = max(1e-9, self.window[1] - self.window[0])
        out: dict[str, float] = collections.defaultdict(float)
        for name, secs in self.self_times().items():
            layer = next((v for k, v in LAYERS.items() if name.startswith(k)), "benchmark")
            out[layer] += secs / span_s
        return {k: round(v, 4) for k, v in sorted(out.items())}

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                {
                    "run_id": self.run_id,
                    "window": self.window,
                    "spans": [
                        {"name": n, "start": a, "end": b, "parent": p, "thread": t, "info": i}
                        for n, a, b, p, t, i in self.spans
                    ],
                },
                f,
            )


def med(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def codegen_compiles(spark) -> int:
    cls = getattr(spark._jvm.org.apache.spark.metrics.source, "CodegenMetrics$")
    return int(getattr(cls, "MODULE$").METRIC_COMPILATION_TIME().getCount())


def event_log_metrics(log_dir: str, window: tuple[float, float], units: int, events: int) -> dict:
    """Spark-side metrics of the jobs that started inside the timed
    window, from the session's event log.  ``units`` = epochs (or index
    writes) in the window; ``events`` = change events fed in it."""
    lo, hi = window[0] * 1000.0, window[1] * 1000.0
    jobs, stage_of_job, tasks = set(), {}, collections.defaultdict(list)
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                if not line.strip():
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart" and lo <= ev["Submission Time"] <= hi:
                    jobs.add(ev["Job ID"])
                    for sid in ev.get("Stage IDs", []):
                        stage_of_job[sid] = ev["Job ID"]
                elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                    tasks[ev["Stage ID"]].append((ev["Task Info"], ev["Task Metrics"]))
    dur, delay, gc, shuffle, spill, skews = [], [], 0, 0, 0, []
    for sid, ts in tasks.items():
        if sid not in stage_of_job:
            continue
        d = []
        for info, m in ts:
            wall = info["Finish Time"] - info["Launch Time"]
            d.append(wall)
            delay.append(
                max(
                    0,
                    wall
                    - m["Executor Run Time"]
                    - m["Executor Deserialize Time"]
                    - m["Result Serialization Time"]
                    - info.get("Getting Result Time", 0),
                )
            )
            gc += m["JVM GC Time"]
            shuffle += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            spill += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
        dur.extend(d)
        if len(d) >= 4 and statistics.median(d) > 0:
            skews.append(max(d) / statistics.median(d))
    units = max(1, units)
    return {
        "spark.jobs_per_epoch": len(jobs) / units,
        "spark.task_ms": sum(dur) / units,
        "spark.sched_delay_ms": med(delay),
        "spark.gc_ms": gc / units,
        "spark.shuffle_write_bytes_per_event": shuffle / events if events else 0.0,
        "spark.spill_bytes": float(spill),
        "spark.task_skew": med(skews),
    }


def instrument(tracer: Tracer) -> None:
    """Span the program's internal layer boundaries.  The benchmark's own
    calls (replay, scans, point reads, index calls) are spanned where
    they are made."""
    if not tracer.enabled:
        return
    import pyarrow.dataset as pads
    import pyarrow.parquet as pq

    from aqueduct_core_spark.catalog.meta import VersionedMeta
    from aqueduct_core_spark.catalog.snapshot import SnapshotCatalog
    from aqueduct_core_spark.catalog.table import ParquetTranscriptTable
    from aqueduct_core_spark.operators import batching, compact, merge
    from aqueduct_core_spark.streaming import pipeline

    def planned(info, args, kwargs, ranges):
        info["events"] = sum(r.events for r in ranges or [])

    def applied(info, args, kwargs, m):
        info["applied"] = int(m.get("applied") or 0)

    def wrote(info, args, kwargs, out):
        by_bucket, _ = out
        files = [os.path.join(args[0].root, f) for fl in by_bucket.values() for f in fl]
        info["files"] = len(files)
        info["bytes"] = sum(os.path.getsize(f) for f in files)

    def committed(info, args, kwargs, snap):
        path = os.path.join(args[0].root, "snapshots", f"v{snap['snapshot_id']}.json")
        info["manifest_bytes"] = os.path.getsize(path)

    def folded(info, args, kwargs, out):
        if not out.get("folded"):
            return
        table = args[0]
        new = table.catalog.load(out["snapshot_id"])
        old = table.catalog.load(out["snapshot_id"] - 1)
        before = {f for fl in old["files"].values() for f in fl}
        info["folded"] = 1
        info["bytes"] = sum(
            os.path.getsize(os.path.join(table.root, f))
            for fl in new["files"].values()
            for f in fl
            if f not in before
        )

    def file_read(info, args, kwargs, tbl):
        info["files"] = 1
        info["rows"] = tbl.num_rows

    tracer.wrap(batching, "plan_triggers_from_files", "pipeline.plan", planned)
    tracer.wrap(batching, "plan_triggers", "pipeline.plan", planned)
    tracer.wrap(merge, "mor_prepare", "merge.prepare")
    tracer.wrap(pipeline, "apply_batch", "merge.apply", applied)
    tracer.wrap(ParquetTranscriptTable, "write_delta_data", "table.write_delta", wrote)
    tracer.wrap(ParquetTranscriptTable, "stage_summary", "table.stage_summary")
    tracer.wrap(ParquetTranscriptTable, "write_offsets_row", "table.offsets_row")
    tracer.wrap(SnapshotCatalog, "commit", "snapshot.commit", committed)
    tracer.wrap(compact, "fold_deltas", "compact.fold", folded)
    tracer.wrap(VersionedMeta, "commit", "ann.meta_commit")
    tracer.wrap(pq, "read_table", "io.read_file", file_read)

    real_dataset = pads.dataset

    class _Counted:
        """A dataset whose ``to_table`` adds the rows it returns to the
        span that opened it."""

        def __init__(self, inner, info):
            self._inner, self._info = inner, info

        def to_table(self, *a, **kw):
            t = self._inner.to_table(*a, **kw)
            self._info["rows"] = self._info.get("rows", 0) + t.num_rows
            return t

        def __getattr__(self, name):
            return getattr(self._inner, name)

    def dataset(source, *a, **kw):
        with tracer.span("io.read_dataset") as rec:
            rec[5]["files"] = len(source) if isinstance(source, (list, tuple)) else 1
            return _Counted(real_dataset(source, *a, **kw), rec[5])

    pads.dataset = dataset
    tracer._undo.append((pads, "dataset", real_dataset))


def engine_layer_metrics(tracer: Tracer) -> dict:
    """Per-layer metrics of the transcript-table engine from the spans
    inside the window."""
    applies = tracer.in_window("merge.apply")
    events_in = tracer.info_sum("pipeline.plan", "events")
    keys = float(sum(s[5].get("applied", 0) for s in applies))
    written = tracer.in_window("table.write_delta")
    lookups = tracer.children("table.read_direct", "io.read_file")
    hits = [
        sum(c[5].get("rows", 0) for c in kids)
        for s, kids in zip(tracer.in_window("table.read_direct"), lookups)
        if s[5].get("hit")
    ]
    folds = tracer.in_window("compact.fold")
    return {
        "pipeline.epochs": float(len(applies)),
        "merge.apply_ms": med(tracer.durations_ms("merge.apply")),
        "merge.prepare_ms": med(tracer.durations_ms("merge.prepare")),
        "merge.events_in": float(events_in),
        "merge.keys_applied": keys,
        "merge.collapse_ratio": keys / events_in if events_in else 0.0,
        "table.write_delta_ms": med(tracer.durations_ms("table.write_delta")),
        "table.stage_summary_ms": med(tracer.durations_ms("table.stage_summary")),
        "table.offsets_row_ms": med(tracer.durations_ms("table.offsets_row")),
        "table.delta_files_per_epoch": med([s[5].get("files", 0) for s in written]),
        "table.bytes_written_per_event": (
            sum(s[5].get("bytes", 0) for s in written) / events_in if events_in else 0.0
        ),
        "snapshot.commit_ms": med(tracer.durations_ms("snapshot.commit")),
        "snapshot.manifest_kb": med(
            [s[5]["manifest_bytes"] / 1024.0 for s in tracer.in_window("snapshot.commit")
             if "manifest_bytes" in s[5]]
        ),
        "snapshot.conflicts": float(len(tracer.values.get("snapshot.commit.error.CommitConflict", []))),
        "compact.fold_ms": med([(s[2] - s[1]) * 1000.0 for s in folds if s[5].get("folded")]),
        "compact.folds": float(sum(1 for s in folds if s[5].get("folded"))),
        "compact.fold_bytes_rewritten": float(sum(s[5].get("bytes", 0) for s in folds)),
        "compact.live_delta_files": med(tracer.values.get("live_delta_files", [])),
        "table.read_files_per_lookup": (
            sum(len(k) for k in lookups) / len(lookups) if lookups else 0.0
        ),
        "table.read_rows_per_hit": sum(hits) / len(hits) if hits else 0.0,
    }


def live_delta_files(table) -> int:
    snap = table.catalog.current()
    return sum(len(fl) for fl in snap.get("delta_files", {}).values())
