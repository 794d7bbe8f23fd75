"""Traced mode: wrappers around the engine's public functions.

The wrappers live here, in the benchmark, and are installed only for the
traced phase, then removed. Each call records its layer-qualified name,
duration and the timed op that was running (the I/O pool's threads
included). Spark jobs are attributed per op through a job group and read
back from the status tracker; streaming triggers come from a
``StreamingQueryListener``. CPU per process class comes from the same
``/proc`` probe as the end-to-end metrics.

``LAYER_METRICS`` is the per-layer list ``BENCHMARK.json`` declares. A
traced run prints every entry; a layer its workload does not exercise
reads 0.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import time

LAYER_METRICS = [
    # store
    ("store.append_events.p50_ms", "ms"),
    ("store.write_events.p50_ms", "ms"),
    ("store.write_events.spark_jobs", "count"),
    ("store.txn_write_events.p50_ms", "ms"),
    ("store.txn_commit.p50_ms", "ms"),
    ("store.txn_commit.spark_jobs", "count"),
    ("store.read.plan_ms", "ms"),
    ("store.read.collect_ms", "ms"),
    ("store.read.spark_tasks", "count"),
    ("store.tail_stream_cut.p50_ms", "ms"),
    # metadata
    ("metadata.segments_doc.calls_per_write", "count"),
    ("metadata.segments_doc.ms_per_write", "ms"),
    ("metadata.put_segments_doc.calls_per_write", "count"),
    ("metadata.put_segments_doc.doc_bytes", "B"),
    ("metadata.write_segment_manifest.calls_per_write", "count"),
    ("metadata.segment_files.ms_per_read", "ms"),
    # fsio
    ("fsio.acquire_lock.ms_per_write", "ms"),
    ("fsio.lock_held.ms_per_write", "ms"),
    ("fsio.parquet_write_table.calls_per_write", "count"),
    ("fsio.parquet_write_table.ms_per_write", "ms"),
    ("fsio.parquet_write_table.bytes_per_file", "B"),
    ("fsio.write_json_atomic.calls_per_write", "count"),
    ("fsio.write_json_atomic.bytes_per_write", "B"),
    # streaming.datasource, tail polls and the catch-up read apart
    *[
        (f"datasource.{phase}.{name}", unit)
        for phase in ("tail", "catchup")
        for name, unit in (
            ("latestOffset_ms", "ms"), ("partitions_ms", "ms"),
            ("read_ms_per_slice", "ms"), ("files_per_slice", "count"),
            ("rows_per_file", "count"),
        )
    ],
    # streaming.reader_group and its triggers' durationMs parts
    ("reader_group.drain.ms", "ms"),
    ("reader_group.triggers", "count"),
    *[(f"trigger.{part}_ms", "ms") for part in (
        "latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets",
        "triggerExecution",
    )],
    # state
    ("state.update_state.p50_ms", "ms"),
    ("state.write_conditionally.calls_per_update", "count"),
    # kvt
    ("kvt.update.p50_ms", "ms"),
    ("kvt.update.files_written", "count"),
    ("kvt.get.p50_ms", "ms"),
    ("kvt.get.spark_jobs", "count"),
    ("kvt.get.spark_tasks", "count"),
    ("kvt.iterate_prefix.ms", "ms"),
    ("kvt.compact.ms", "ms"),
    # session: the JVM, its Python workers and the benchmark process
    ("jvm.cpu_ms_per_write", "ms"),
    ("jvm.cpu_ms_per_read", "ms"),
    ("pyworker.cpu_ms_per_read", "ms"),
    ("python.cpu_ms_per_write", "ms"),
    ("python.cpu_ms_per_read", "ms"),
    # traced minus untraced end-to-end
    ("tracing.write_p50_overhead_ms", "ms"),
    ("tracing.read_p50_overhead_ms", "ms"),
]

_METADATA_METHODS = (
    "segments_doc", "put_segments_doc", "write_segment_manifest", "drop_segment_manifest",
    "segment_files", "resolve_files", "get_segments", "tail_offsets", "head_offsets",
    "get_stream", "active_epoch", "txn_doc", "put_txn_doc",
)
_FSIO_FUNCTIONS = ("acquire_lock", "release_lock", "parquet_write_table",
                   "write_json_atomic", "remove")
_READER_METHODS = ("initialOffset", "latestOffset", "partitions", "read", "commit")


def _public_methods(cls) -> list[str]:
    return [n for n, v in vars(cls).items() if not n.startswith("_") and callable(v)
            and not isinstance(v, (staticmethod, classmethod))]


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext if spark is not None else None
        self.spark = spark
        self.calls: list[tuple[str, int | None, float, dict]] = []
        self.ops: list[dict] = []
        self.cur: int | None = None
        self.progress: list[dict] = []
        self._saved: list[tuple[object, str, object]] = []
        self._acquired: dict[str, float] = {}
        self._listener = None

    # ---------------- op boundaries ----------------
    def begin_op(self, kind: str, cls: str) -> None:
        idx = len(self.ops)
        self.ops.append({"kind": kind, "cls": cls, "group": f"storebench-op-{idx}", "dur": 0.0})
        self.cur = idx
        if self.sc is not None:
            self.sc.setJobGroup(self.ops[idx]["group"], kind)

    def end_op(self, dur: float) -> None:
        self.ops[self.cur]["dur"] = dur
        self.cur = None
        if self.sc is not None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def _record(self, name: str, dur: float, extra: dict | None = None) -> None:
        self.calls.append((name, self.cur, dur, extra or {}))

    # ---------------- install / uninstall ----------------
    def _patch(self, owner, attr: str, name: str, measure=None) -> None:
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        record = self._record

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if measure is not None:
                return measure(orig, name, args, kwargs)
            t0 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                record(name, time.perf_counter() - t0)

        setattr(owner, attr, wrapper)
        self._saved.append((owner, attr, orig))

    def install(self) -> None:
        from pravega_spark import fsio
        from pravega_spark.kvt import KeyValueTable
        from pravega_spark.metadata import MetadataStore
        from pravega_spark.state import RevisionedStreamClient, StateSynchronizer
        from pravega_spark.store import StreamStore, Transaction
        from pravega_spark.streaming.datasource import PravegaStreamReader
        from pravega_spark.streaming.reader_group import ReaderGroup

        special = {
            "acquire_lock": self._acquire, "release_lock": self._release,
            "parquet_write_table": self._parquet, "write_json_atomic": self._sized(1, "doc"),
        }
        for fn in _FSIO_FUNCTIONS:
            self._patch(fsio, fn, f"fsio.{fn}", special.get(fn))
        for m in _METADATA_METHODS:
            self._patch(MetadataStore, m, f"metadata.{m}",
                        self._sized(3, "doc") if m == "put_segments_doc" else None)
        for cls, layer in ((StreamStore, "store"), (Transaction, "store.txn"),
                           (KeyValueTable, "kvt"), (StateSynchronizer, "state"),
                           (RevisionedStreamClient, "state.client"),
                           (ReaderGroup, "reader_group")):
            for m in _public_methods(cls):
                self._patch(cls, m, f"{layer}.{m}")
        for m in _READER_METHODS:
            self._patch(PravegaStreamReader, m, f"datasource.{m}",
                        self._reader_read if m == "read" else None)
        if self.spark is not None:
            self._listener = _progress_listener(self.progress)
            self.spark.streams.addListener(self._listener)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()
        if self._listener is not None:
            self._wait_listeners()
            self.spark.streams.removeListener(self._listener)
            self._listener = None

    # ---------------- wrappers that measure more than time ----------------
    def _acquire(self, orig, name, args, kwargs):
        t0 = time.perf_counter()
        token = orig(*args, **kwargs)
        t1 = time.perf_counter()
        self._acquired[token] = t1
        self._record(name, t1 - t0)
        return token

    def _release(self, orig, name, args, kwargs):
        t0 = time.perf_counter()
        token = args[1] if len(args) > 1 else kwargs.get("token")
        since = self._acquired.pop(token, None)
        try:
            return orig(*args, **kwargs)
        finally:
            self._record(name, time.perf_counter() - t0)
            if since is not None:
                self._record("fsio.lock_held", t0 - since)

    def _parquet(self, orig, name, args, kwargs):
        t0 = time.perf_counter()
        out = orig(*args, **kwargs)
        path = args[1] if len(args) > 1 else kwargs["path"]
        size = os.path.getsize(path) if "://" not in path else 0
        self._record(name, time.perf_counter() - t0, {"bytes": size})
        return out

    def _sized(self, index: int, key: str):
        """Wrapper recording the JSON size of the document argument at
        ``args[index]`` (or ``kwargs[key]``)."""
        def measure(orig, name, args, kwargs):
            doc = args[index] if len(args) > index else kwargs[key]
            size = len(json.dumps(doc))
            t0 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                self._record(name, time.perf_counter() - t0, {"bytes": size})
        return measure

    def _reader_read(self, orig, name, args, kwargs):
        """The source's ``read`` returns a lazy iterator; time its
        consumption, which is where the slice is read."""
        part = args[1] if len(args) > 1 else kwargs["partition"]
        t0 = time.perf_counter()
        batches = list(orig(*args, **kwargs))
        files = len(part.files) if getattr(part, "files", None) is not None else 0
        self._record(name, time.perf_counter() - t0,
                     {"files": files, "rows": sum(b.num_rows for b in batches)})
        return iter(batches)

    # ---------------- Spark bookkeeping ----------------
    def _wait_listeners(self) -> None:
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        except Exception:  # an internal API; fall back to a grace period
            time.sleep(2.0)

    def _spark_counts(self) -> None:
        if self.sc is None:
            return
        self._wait_listeners()
        tracker = self.sc.statusTracker()
        for op in self.ops:
            jobs = tracker.getJobIdsForGroup(op["group"])
            stages = tasks = 0
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    st = tracker.getStageInfo(sid)
                    if st is not None and st.numCompletedTasks:
                        stages += 1  # skipped (reused) stages ran no task
                        tasks += st.numCompletedTasks
            op["jobs"], op["stages"], op["tasks"] = len(jobs), stages, tasks

    def spark_per_op(self) -> dict:
        """Mean Spark jobs, stages and tasks per op, by op kind (after
        :meth:`layer_metrics` has read them back)."""
        out = {}
        for kind in sorted({o["kind"] for o in self.ops}):
            sel = [o for o in self.ops if o["kind"] == kind and "jobs" in o]
            if sel:
                out[kind] = {f: sum(o[f] for o in sel) / len(sel)
                             for f in ("jobs", "stages", "tasks")}
        return out

    # ---------------- per-layer metrics ----------------
    def layer_metrics(self, ops, untraced: dict, traced: dict) -> dict:
        self._spark_counts()
        by_op: dict[int, list] = {}
        for call in self.calls:
            if call[1] is not None:
                by_op.setdefault(call[1], []).append(call)
        idx = {kind: [i for i, o in enumerate(self.ops) if o["kind"] == kind]
               for kind in {o["kind"] for o in self.ops}}
        writes, reads = idx.get("write", []), idx.get("read", [])

        def durs(name, within=None):
            pool = self.calls if within is None else [c for i in within for c in by_op.get(i, [])]
            return [c[2] for c in pool if c[0] == name]

        def per_op(name, within, field=None):
            """(sum over the ops' calls of 1, duration or extra[field]) / ops"""
            if not within:
                return 0.0
            total = 0.0
            for i in within:
                for c in by_op.get(i, []):
                    if c[0] == name:
                        total += 1 if field is None else (c[2] if field == "dur" else c[3][field])
            return total / len(within)

        def mean_extra(name, within, field):
            vals = [c[3][field] for i in within for c in by_op.get(i, []) if c[0] == name]
            return sum(vals) / len(vals) if vals else 0.0

        def mean_op(kinds, field):
            sel = [self.ops[i][field] for k in kinds for i in idx.get(k, [])]
            return sum(sel) / len(sel) if sel else 0.0

        ms = 1000.0
        plan_reads = [i for i in reads if any(c[0] == "store.read" for c in by_op.get(i, []))]
        collect = [
            self.ops[i]["dur"] - sum(c[2] for c in by_op[i]
                                     if c[0] in ("store.read", "store.get_next_stream_cut"))
            for i in plan_reads
        ]
        out = {
            "store.append_events.p50_ms": _median(durs("store.append_events")) * ms,
            "store.write_events.p50_ms": _median(durs("store.write_events", writes)) * ms,
            "store.write_events.spark_jobs": mean_op(["write"], "jobs")
            if durs("store.write_events") else 0.0,
            "store.txn_write_events.p50_ms": _median(durs("store.txn.write_events")) * ms,
            "store.txn_commit.p50_ms": _median(durs("store.txn.commit")) * ms,
            "store.txn_commit.spark_jobs": mean_op(["txn_commit"], "jobs"),
            "store.read.plan_ms": _median(durs("store.read", reads)) * ms,
            "store.read.collect_ms": _median(collect) * ms,
            "store.read.spark_tasks": (sum(self.ops[i]["tasks"] for i in plan_reads)
                                       / len(plan_reads)) if plan_reads else 0.0,
            "store.tail_stream_cut.p50_ms": _median(durs("store.tail_stream_cut", reads)) * ms,
            "metadata.segments_doc.calls_per_write": per_op("metadata.segments_doc", writes),
            "metadata.segments_doc.ms_per_write":
                per_op("metadata.segments_doc", writes, "dur") * ms,
            "metadata.put_segments_doc.calls_per_write":
                per_op("metadata.put_segments_doc", writes),
            "metadata.put_segments_doc.doc_bytes":
                mean_extra("metadata.put_segments_doc", writes, "bytes"),
            "metadata.write_segment_manifest.calls_per_write":
                per_op("metadata.write_segment_manifest", writes),
            "metadata.segment_files.ms_per_read":
                per_op("metadata.segment_files", reads, "dur") * ms,
            "fsio.acquire_lock.ms_per_write": per_op("fsio.acquire_lock", writes, "dur") * ms,
            "fsio.lock_held.ms_per_write": per_op("fsio.lock_held", writes, "dur") * ms,
            "fsio.parquet_write_table.calls_per_write":
                per_op("fsio.parquet_write_table", writes),
            "fsio.parquet_write_table.ms_per_write":
                per_op("fsio.parquet_write_table", writes, "dur") * ms,
            "fsio.parquet_write_table.bytes_per_file":
                mean_extra("fsio.parquet_write_table", writes, "bytes"),
            "fsio.write_json_atomic.calls_per_write": per_op("fsio.write_json_atomic", writes),
            "fsio.write_json_atomic.bytes_per_write":
                per_op("fsio.write_json_atomic", writes, "bytes"),
        }
        for phase, kind in (("tail", "read"), ("catchup", "catchup")):
            within = idx.get(kind, [])
            slices = [c for i in within for c in by_op.get(i, []) if c[0] == "datasource.read"]
            files = sum(c[3]["files"] for c in slices)
            out.update({
                f"datasource.{phase}.latestOffset_ms":
                    _median(durs("datasource.latestOffset", within)) * ms,
                f"datasource.{phase}.partitions_ms":
                    _median(durs("datasource.partitions", within)) * ms,
                f"datasource.{phase}.read_ms_per_slice": _median([c[2] for c in slices]) * ms,
                f"datasource.{phase}.files_per_slice": files / len(slices) if slices else 0.0,
                f"datasource.{phase}.rows_per_file":
                    sum(c[3]["rows"] for c in slices) / files if files else 0.0,
            })
        drains = durs("reader_group.drain")
        data_triggers = [p for p in self.progress if p["rows"] > 0]
        out["reader_group.drain.ms"] = _median(drains) * ms
        out["reader_group.triggers"] = len(self.progress) / len(drains) if drains else 0.0
        for part in ("latestOffset", "queryPlanning", "addBatch", "walCommit",
                     "commitOffsets", "triggerExecution"):
            out[f"trigger.{part}_ms"] = _median(
                [p["durationMs"][part] for p in data_triggers if part in p["durationMs"]])
        updates = durs("state.update_state")
        out["state.update_state.p50_ms"] = _median(updates) * ms
        out["state.write_conditionally.calls_per_update"] = (
            len(durs("state.client.write_conditionally")) / len(updates) if updates else 0.0)
        updates = durs("kvt.update")
        out["kvt.update.p50_ms"] = _median(updates) * ms
        out["kvt.update.files_written"] = (
            per_op("fsio.parquet_write_table", writes) if updates else 0.0)
        gets = durs("kvt.get")
        out["kvt.get.p50_ms"] = _median(gets) * ms
        out["kvt.get.spark_jobs"] = mean_op(["read"], "jobs") if gets else 0.0
        out["kvt.get.spark_tasks"] = mean_op(["read"], "tasks") if gets else 0.0
        out["kvt.iterate_prefix.ms"] = _median(
            [self.ops[i]["dur"] for i in idx.get("iterate_prefix", [])]) * ms
        out["kvt.compact.ms"] = _median(durs("kvt.compact")) * ms

        def cpu(side, proc):
            """CPU of every op on one side (write or read class), per
            primary op of that side: the drain's Python workers count
            on the read side like the drain counts in the e2e CPU."""
            n = len(ops.lat.get(side, ()))
            return ops.cpu[side][proc] / n * ms if n else 0.0

        out["jvm.cpu_ms_per_write"] = cpu("write", "jvm")
        out["jvm.cpu_ms_per_read"] = cpu("read", "jvm")
        out["pyworker.cpu_ms_per_read"] = cpu("read", "pyworker")
        out["python.cpu_ms_per_write"] = cpu("write", "python")
        out["python.cpu_ms_per_read"] = cpu("read", "python")
        out["tracing.write_p50_overhead_ms"] = traced["write_p50_ms"][0] - untraced["write_p50_ms"][0]
        out["tracing.read_p50_overhead_ms"] = traced["read_p50_ms"][0] - untraced["read_p50_ms"][0]
        units = dict(LAYER_METRICS)
        return {name: (float(out[name]), units[name]) for name, _ in LAYER_METRICS}


def _progress_listener(sink: list):
    from pyspark.sql.streaming import StreamingQueryListener

    class _Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            sink.append({"rows": p.numInputRows, "durationMs": dict(p.durationMs)})

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Progress()
