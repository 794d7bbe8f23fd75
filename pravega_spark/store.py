"""StreamStore — the engine's data plane.

Capabilities re-expressed from the reference (file:line cites are into
/root/reference):

  - ``create/seal/truncate/delete stream`` — StreamManager.java:71-115
  - ``writeEvent(s)`` with routing-key → segment hashing, per-segment
    contiguous offsets, exactly-once writer retries —
    EventStreamWriterImpl.java:66-127, SegmentSelector.java:55-87,
    AppendProcessor.java:302 (writer-id dedup)
  - bounded reads between StreamCuts (batch client) —
    BatchClientFactory.java:80-123, SegmentIteratorImpl.java:44-77
  - head/tail/StreamCut algebra — StreamManager.java:223-261
  - time→position lookup — Controller.getSegmentsAtTime
    (Controller.java:388), IndexRequestProcessor.java:59
  - transactions (begin/commit/abort/ping) — Transaction.java:29-109,
    CommitRequestHandler.java:247-367
  - scale (seal segments, create successors, new epoch) —
    ScaleOperationTask / EpochRecord.java

Spark-first architecture:
  * Data lives as Parquet under ``streams/<scope>/<stream>/segment_id=N/``
    so StreamCut-bounded reads become partition-pruned scans with
    offset range predicates pushed to parquet row groups.
  * Visibility is manifest-based: readers see ONLY the parquet files
    the segments doc references (bounded in-doc chains folded into
    snapshot shards). Each entry carries its file's offset range, so a
    bounded read opens only the files that hold its offsets. A batch
    becomes visible exactly when its conditional doc write lands — the
    atomic-commit manifest (SURVEY §7 hard parts 1-2) without needing
    Delta. Hot appends reserve offset ranges first and publish after
    writing payload unlocked (r9), with contiguous-prefix absorption
    keeping offsets gap-free.
  * Per-key order: a routing key hashes to exactly one live segment per
    epoch; offsets within a segment are assigned by a window over the
    arrival sequence, so ``ORDER BY offset`` per segment reproduces
    write order per key (ReadWriteTest invariant).
"""

from __future__ import annotations

import os
import threading
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pravega_spark.config import StreamConfiguration
from pravega_spark import fsio
from pravega_spark.errors import (
    InvalidStreamCutException,
    StreamNotFoundException,
    StreamSealedException,
    TruncatedDataException,
    TxnFailedException,
)
from pravega_spark.hashing import hash_to_range, segment_for_key_py, segment_for_ranges
from pravega_spark.metadata import MetadataStore, make_segment_id, segment_epoch
from pravega_spark.streamcut import StreamCut

ROUTING_KEY = "routing_key"
SEGMENT_ID = "segment_id"
OFFSET = "offset"
EVENT_TIME = "event_time"
INGEST_TIME = "ingest_time"

ENVELOPE_COLS = (ROUTING_KEY, SEGMENT_ID, OFFSET, EVENT_TIME, INGEST_TIME)

DEFAULT_TXN_LEASE_MS = 599_999  # EventWriterConfig.java:132

# Batches whose Catalyst size estimate is at or below this commit through
# the driver-side hot tier (single collect, no distributed write job):
# the Spark analogue of the reference's DurableLog fast append ack
# (DurableLog.java:67) vs async LTS tiering. The estimate is free (plan
# statistics, no job); a wrong estimate only changes latency, never
# correctness — both tiers end at the same manifest flip. 0 disables.
HOT_MAX_EST_BYTES = int(os.environ.get("PRAVEGA_SPARK_HOT_MAX_EST_BYTES", str(2 << 20)))

# Catalyst has NO statistics for Python-data-source scans (streaming
# micro-batches from the pravega_stream source report ~9e18 bytes), so
# estimate-based routing would send every sink batch — even a 10-row
# trigger — through the distributed write job. At or above this sentinel
# the batch is persisted once, counted, and routed by ACTUAL rows.
_UNKNOWN_EST_BYTES = 1 << 60
# Row cap for the hot tier on the counted path: micro-batches up to this
# size commit driver-side (a 200k-row envelope batch is ~20-30 MB of
# Arrow — trivially driver-sized; trigger sizing bounds it at scale).
HOT_MAX_ROWS = int(os.environ.get("PRAVEGA_SPARK_HOT_MAX_ROWS", "200000"))

# Lease on a reserved-but-unpublished offset range (the split hot-append
# commit, r9): a writer that reserved offsets but never published within
# the grace is presumed crashed; the next lock holder repairs the gap
# (_reap_reservations_locked). Generous on purpose — a live writer's
# payload write is milliseconds, so the grace only bounds how long a
# crash can stall seal/scale and later writers' visibility, and a large
# value tolerates cross-process clock skew on shared roots.
RESERVATION_GRACE_MS = int(os.environ.get("PRAVEGA_SPARK_RESERVATION_GRACE_MS", "30000"))

# Per-segment in-doc file-name chain length at which the chain folds
# into a snapshot manifest shard (see metadata.segment_files): bounds
# the segments doc at O(segments * CHAIN_MAX names) while keeping the
# common commit free of any O(files/segment) manifest rewrite. 32 is
# the measured sweet spot (r9 A/B: 32 ≈ 310 MiB/s single-writer vs 64
# ≈ 293 — every commit rewrites the doc, so chain bytes are paid per
# append while fold cost amortizes across CHAIN_MAX commits).
CHAIN_MAX = int(os.environ.get("PRAVEGA_SPARK_CHAIN_MAX", "32"))

# Reader-triggered visibility repair deadline (r10): a published commit
# stuck behind a DEAD writer's reserved-but-never-published gap becomes
# visible within this bound — a reader that observes the gap past the
# deadline force-expires the blocking reservation and absorbs the
# stranded commit inline, instead of waiting the full reservation grace
# (30 s) for the next WRITER to arrive and repair. 2 s is ~1000x the
# hot payload write it could falsely fence; a live writer fenced this
# way re-reserves and retries (exactly-once holds — see _hot_commit
# phase 3's fence check), so the deadline trades a rare wasted payload
# write for a hard tail-visibility bound. Reference semantics: ack
# implies all earlier appends applied (AppendProcessor.java:302) —
# this bound is the split-commit design's substitute for that.
READ_REPAIR_DEADLINE_MS = int(os.environ.get("PRAVEGA_SPARK_READ_REPAIR_DEADLINE_MS", "2000"))

# Age past which hot appenders ignore a seal/scale drain's ``draining``
# flag — bounds the stall a CRASHED drainer can impose (the live
# drainer refreshes the timestamp every STALE/4 while it waits).
DRAINING_STALE_MS = int(os.environ.get("PRAVEGA_SPARK_DRAINING_STALE_MS", "15000"))

_IO_POOL = None
_IO_POOL_LOCK = threading.Lock()


def _io_pool():
    """Shared thread pool for per-segment parquet + manifest-shard I/O.

    Module-level on purpose: a fresh ThreadPoolExecutor per append was
    ~3.5 ms of pure thread spin-up on the hot ack path (measured r9,
    100 KiB-event batches) — paid inside the commit critical section's
    shadow under concurrent writers. pyarrow releases the GIL for file
    I/O, so one pool serves all writers; tasks are sub-millisecond so
    fairness across writers is a non-issue.
    """
    global _IO_POOL
    if _IO_POOL is None:
        from concurrent.futures import ThreadPoolExecutor

        with _IO_POOL_LOCK:  # two racing threads must not each build a pool
            if _IO_POOL is None:
                _IO_POOL = ThreadPoolExecutor(max_workers=16, thread_name_prefix="pvs-io")
    return _IO_POOL


@dataclass
class StreamInfo:
    """Reference: StreamManager.fetchStreamInfo (StreamInfo.java)."""

    scope: str
    stream: str
    sealed: bool
    head_stream_cut: StreamCut
    tail_stream_cut: StreamCut
    event_count: int


class Transaction:
    """Staged writes merged atomically on commit (Transaction.java:29-109).

    State machine (r6): OPEN → COMMITTING → COMMITTED, or OPEN →
    ABORTED. The OPEN→COMMITTING flip under the stream lock is the
    point of no return: abort refuses COMMITTING txns and writers
    fail their completion check, so commit and abort can never both
    report success, and a writer racing the commit can never lose an
    acknowledged part silently (reference: CommittingTransactionsRecord
    + sealed shadow segments give the same exclusion)."""

    OPEN, COMMITTING, COMMITTED, ABORTED = "OPEN", "COMMITTING", "COMMITTED", "ABORTED"

    def __init__(self, store: "StreamStore", scope: str, stream: str, txn_id: str):
        self.store, self.scope, self.stream, self.txn_id = store, scope, stream, txn_id

    @property
    def staging_path(self) -> str:
        return fsio.join(self.store.root, "_txn_staging", self.scope, self.stream, self.txn_id)

    def _doc(self) -> dict:
        doc = self.store.meta.txn_doc(self.scope, self.stream)
        if self.txn_id not in doc:
            raise TxnFailedException(f"unknown txn {self.txn_id}")
        return doc

    def status(self) -> str:
        return self._doc()[self.txn_id]["status"]

    def write_events(self, df: DataFrame, routing_key_col: str = ROUTING_KEY) -> None:
        """Buffer events into the txn's staging dir (shadow segments).

        Reference writes txn events to ``#transaction.<id>`` shadow
        segments (NameUtils.java:163); our shadow is a staging Parquet
        dir. Segment assignment and offsets happen at COMMIT time so the
        merge lands in the then-active epoch, like the reference's
        commit-time segment merge (CommitRequestHandler.java:361).
        """
        # reserve the part number under the stream lock (txn-doc updates
        # are read-modify-write; concurrent txns on one stream must not
        # clobber each other's entries), then stage OUTSIDE the lock —
        # a crash leaves a reserved part with no data, which commit's
        # ``part=*`` glob simply never sees
        with self.store._commit_lock(self.scope, self.stream):
            doc = self._doc()
            if doc[self.txn_id]["status"] != self.OPEN:
                raise TxnFailedException(f"txn {self.txn_id} is {doc[self.txn_id]['status']}")
            part_no = doc[self.txn_id]["parts"]
            doc[self.txn_id]["parts"] += 1
            self.store.meta.put_txn_doc(self.scope, self.stream, doc)
        staged = self.store._with_arrival_seq(df, routing_key_col)
        # one sub-dir per write_events call keeps arrival order across calls
        staged.write.mode("append").parquet(fsio.join(self.staging_path, f"part={part_no}"))
        # completion marker + post-stage status check: commit merges ONLY
        # parts whose _DONE existed when it listed the staging dir, so a
        # part still staging when the txn flips to COMMITTING is excluded
        # — and THIS call then raises instead of returning a silent
        # success for data the commit never merged. (Parquet readers
        # ignore underscore-prefixed files, so the marker is inert.)
        fsio.write_bytes(fsio.join(self.staging_path, f"part={part_no}", "_DONE"), b"")
        with self.store._commit_lock(self.scope, self.stream):
            doc = self._doc()
            status = doc[self.txn_id]["status"]
            if status != self.OPEN:
                # the commit freezes its part list atomically with the
                # COMMITTING flip, so membership decides exactly whether
                # THIS part's _DONE made the merge (r7 ADVICE fix: a
                # part that WAS merged must report success — raising
                # here would push the caller to retry committed data in
                # a new txn, duplicating events)
                merged = doc[self.txn_id].get("merged_parts")
                if merged is not None and part_no in merged:
                    return
                raise TxnFailedException(
                    f"txn {self.txn_id} moved to {status} during "
                    "write_events; this part is not part of the commit"
                )

    def ping(self, lease_ms: int = DEFAULT_TXN_LEASE_MS) -> None:
        with self.store._commit_lock(self.scope, self.stream):
            doc = self._doc()
            if doc[self.txn_id]["status"] != self.OPEN:
                raise TxnFailedException(f"txn {self.txn_id} is {doc[self.txn_id]['status']}")
            doc[self.txn_id]["lease_expiry"] = int(time.time() * 1000) + lease_ms
            self.store.meta.put_txn_doc(self.scope, self.stream, doc)

    def _list_done_parts(self) -> list[int]:
        """Part numbers whose _DONE completion marker exists right now:
        a part reserved but never staged (crash window) has no marker
        and no files; a part still staging fails its own completion
        check."""
        return sorted(
            {
                int(rel.split(os.sep, 1)[0].split("=", 1)[1])
                for rel in fsio.list_files_recursive(self.staging_path)
                if rel.startswith("part=") and rel.endswith("_DONE")
            }
        )

    def commit(self, timestamp_ms: int | None = None) -> None:
        # Phase 1 (point of no return, under lock): OPEN → COMMITTING.
        # From COMMITTING on, abort refuses and late writers fail their
        # completion check. Phase 2 (data, OUTSIDE the lock —
        # _commit_rows takes the same non-reentrant lock internally):
        # merge the COMPLETED staged parts; the txn marker makes a
        # concurrent/retried commit of the same txn a no-op inside the
        # locked section. Phase 3 (status flip, under lock again).
        with self.store._commit_lock(self.scope, self.stream):
            doc = self._doc()
            st = doc[self.txn_id]["status"]
            if st == self.COMMITTED:
                return  # idempotent, like reference commit of committed txn
            if st == self.ABORTED:
                raise TxnFailedException(f"txn {self.txn_id} is {st}")
            if st == self.OPEN:
                # a txn begun before seal_stream cannot commit into the
                # sealed stream (reference: commit into sealed segments
                # fails); a COMMITTING txn rolls forward regardless —
                # its point of no return predates the seal
                if self.store.meta.get_stream(self.scope, self.stream)["sealed"]:
                    raise StreamSealedException(
                        f"{self.scope}/{self.stream} is sealed; txn {self.txn_id} cannot commit"
                    )
                doc[self.txn_id]["status"] = self.COMMITTING
                # the part list is FROZEN atomically with the status
                # flip (r7 ADVICE fix): a writer's post-stage check can
                # then decide membership exactly — a part whose _DONE
                # the flip saw reports success, one it missed raises.
                # A commit RETRY (crash after this flip, or the
                # sweeper's roll-forward) must reuse the frozen list: a
                # re-list could adopt a part whose writer was already
                # told it missed the commit, duplicating its events.
                doc[self.txn_id]["merged_parts"] = self._list_done_parts()
                self.store.meta.put_txn_doc(self.scope, self.stream, doc)
            merged_parts = doc[self.txn_id].get("merged_parts")
        if merged_parts is None:
            # doc written by a pre-r7 engine crashed mid-commit: fall
            # back to listing now (the historical behavior)
            merged_parts = self._list_done_parts()
        part_dirs = [f"part={p}" for p in merged_parts]
        if part_dirs:
            staged = self.store.spark.read.option("basePath", self.staging_path).parquet(
                *[fsio.join(self.staging_path, d) for d in part_dirs]
            )
            # stable order: by write_events call, then arrival within call.
            # Kept as a (part, seq) PAIR: collapsing into part*2^40+seq
            # breaks once _seq (partitionId<<33 | row) reaches 2^40 —
            # i.e. ≥128 input partitions — and bleeds into the next
            # part's range, reordering events across write_events calls.
            staged = staged.withColumnRenamed("part", "_part")
            # txn marker commits atomically with the data: a crash before
            # the status flip can't double-apply on retry; a concurrent
            # duplicate commit hits the marker inside the locked section
            self.store._commit_rows(self.scope, self.stream, staged, txn_marker=self.txn_id)
        with self.store._commit_lock(self.scope, self.stream):
            doc = self._doc()
            if doc[self.txn_id]["status"] == self.ABORTED:
                # unreachable through the public API (abort refuses
                # COMMITTING); only a forced external edit — fail loudly
                raise TxnFailedException(f"txn {self.txn_id} aborted during commit")
            doc[self.txn_id]["status"] = self.COMMITTED
            doc[self.txn_id]["commit_time"] = int(time.time() * 1000)
            self.store.meta.put_txn_doc(self.scope, self.stream, doc)
        if timestamp_ms is not None:
            # Transaction.commit(timestamp) also notes writer time (Transaction.java:97)
            self.store.note_time(self.scope, self.stream, f"txn-{self.txn_id}", timestamp_ms)
        fsio.rmtree(self.staging_path)

    def abort(self) -> None:
        with self.store._commit_lock(self.scope, self.stream):
            doc = self._doc()
            st = doc[self.txn_id]["status"]
            if st == self.ABORTED:
                return
            if st != self.OPEN:
                # COMMITTING is past the point of no return: an abort
                # racing a commit must never report success while the
                # commit publishes the data
                raise TxnFailedException(f"txn {self.txn_id} is {st}")
            if self.txn_id in self.store.meta.segments_doc(self.scope, self.stream)["committed_txns"]:
                # data already merged by a racing commit: materially
                # committed — refuse, mirroring the reference's
                # commit/abort state machine (CommittingTransactionsRecord)
                raise TxnFailedException(f"txn {self.txn_id} is committing/committed")
            doc[self.txn_id]["status"] = self.ABORTED
            self.store.meta.put_txn_doc(self.scope, self.stream, doc)
        fsio.rmtree(self.staging_path)


class StreamStore:
    """Facade over metadata + parquet data plane."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        fsio.makedirs(root)
        self.meta = MetadataStore(root)

    # ================= DDL (D1-D7) =================
    def create_scope(self, scope: str) -> bool:
        return self.meta.create_scope(scope)

    def list_scopes(self) -> list[str]:
        return self.meta.list_scopes()

    def delete_scope(self, scope: str, recursive: bool = False) -> bool:
        if recursive:
            for s in self.meta.list_streams(scope):
                self.seal_stream(scope, s)
                self.delete_stream(scope, s)
        return self.meta.delete_scope(scope, recursive)

    def create_stream(self, scope: str, stream: str, config: StreamConfiguration | None = None) -> bool:
        return self.meta.create_stream(scope, stream, config or StreamConfiguration())

    def update_stream(self, scope: str, stream: str, config: StreamConfiguration) -> None:
        self.meta.update_stream(scope, stream, config)

    def seal_stream(self, scope: str, stream: str) -> None:
        def _seal():
            self.meta.seal_stream(scope, stream)
            # denormalized copy of the seal flag in the segments doc:
            # the hot append's under-lock seal re-check then costs zero
            # extra reads (it already holds the doc). Written AFTER the
            # stream doc so a crash between the two leaves the stream
            # sealed-but-flagless — the entry check still rejects, and
            # only the narrow entry-vs-reserve race window reopens until
            # a repeated seal call completes the flag.
            doc = self.meta.segments_doc(scope, stream)
            doc["sealed"] = True
            self.meta.put_segments_doc(scope, stream, doc, expected_version=doc["version"])

        self._with_quiescent_lock(scope, stream, _seal)

    def _with_quiescent_lock(self, scope: str, stream: str, fn, timeout_s: float | None = None):
        """Run ``fn`` under the commit lock with NO open reservations or
        pending entries — operations that freeze segment tails (seal,
        scale) must not race a hot append that holds a reserved offset
        range, and a sealed segment's tail must be final the moment it
        seals. Hot publishes land in milliseconds, so the drain loop is
        normally 0-1 iterations; a crashed writer bounds it at the
        reservation grace (its gap is reaped, stranded pendings absorb).

        Starvation (r10 ADVICE): sustained concurrent appenders could
        otherwise keep reserving and the drain would never observe a
        quiescent instant. The first non-quiescent iteration therefore
        writes a ``draining`` timestamp into the doc; the hot append's
        under-lock entry check treats a FRESH timestamp as "back off
        and retry", so no new reservations are admitted while in-flight
        ones publish — appends pause ~one drain instead of starving the
        control plane. The timestamp (refreshed while the drain loop
        runs) is what makes a crashed drainer harmless: appenders
        ignore a flag older than DRAINING_STALE_MS.
        """
        if timeout_s is None:
            timeout_s = RESERVATION_GRACE_MS / 1000.0 + 30.0
        path = self._stream_path(scope, stream)
        deadline = time.time() + timeout_s
        flagged = False
        try:
            while True:
                with self._commit_lock(scope, stream):
                    doc = self.meta.segments_doc(scope, stream)
                    obsolete = self._reap_reservations_locked(doc, path)
                    if not doc.get("reservations") and not doc.get("pending"):
                        if "draining" in doc:
                            doc.pop("draining")
                            flagged = False
                            self.meta.put_segments_doc(
                                scope, stream, doc, expected_version=doc["version"]
                            )
                            for rel in obsolete or ():
                                fsio.remove(fsio.join(path, rel))
                        else:
                            self._flush_reap(scope, stream, doc, obsolete, path)
                        return fn()
                    now_ms = int(time.time() * 1000)
                    # (re)assert the draining flag well inside its
                    # staleness window; each write also absorbs whatever
                    # became contiguous (a reaped gap can strand
                    # pendings nobody else will ever flip in)
                    refresh = now_ms - doc.get("draining", 0) > DRAINING_STALE_MS // 4
                    absorbable = self._stranded_pending(doc)
                    if obsolete is not None or absorbable or refresh:
                        if refresh:
                            doc["draining"] = now_ms
                            flagged = True
                        self._publish_locked(
                            scope, stream, doc, {}, None, None, obsolete=obsolete or ()
                        )
                if time.time() > deadline:
                    raise TimeoutError(
                        f"{scope}/{stream}: open reservations/pending commits did not "
                        f"drain within {timeout_s:.0f}s"
                    )
                time.sleep(0.002)
        finally:
            if flagged:
                # drain abandoned (timeout / error): unblock appenders
                # now rather than after the staleness window
                try:
                    with self._commit_lock(scope, stream):
                        doc = self.meta.segments_doc(scope, stream)
                        if "draining" in doc:
                            doc.pop("draining")
                            self.meta.put_segments_doc(
                                scope, stream, doc, expected_version=doc["version"]
                            )
                except Exception:
                    pass

    def delete_stream(self, scope: str, stream: str) -> None:
        self.meta.delete_stream(scope, stream)
        fsio.rmtree(self._stream_path(scope, stream))

    def list_streams(self, scope: str, tag: str | None = None) -> list[str]:
        return self.meta.list_streams(scope, tag)

    def stream_exists(self, scope: str, stream: str) -> bool:
        return self.meta.stream_exists(scope, stream)

    def get_stream_tags(self, scope: str, stream: str) -> list[str]:
        return self.meta.get_stream_tags(scope, stream)

    # ================= write path (W1-W4, G1) =================
    def _stream_path(self, scope: str, stream: str) -> str:
        return fsio.join(self.root, "streams", scope, stream)

    def _lock_path(self, scope: str, stream: str) -> str:
        return fsio.join(self.root, "_metadata", scope, stream, "commit.lock")

    def _commit_lock(self, scope: str, stream: str):
        """Per-stream commit mutex for cross-process writers.

        The reference serializes appends per segment through its single
        owning segment store (AppendProcessor.java:302); here arbitrary
        processes may hold StreamStore instances on one root, so the
        metadata transitions serialize under a lease lock (renewed by a
        shared background thread, so a long distributed write job is
        never fenced just for being slow), and the doc write itself is
        version-conditional (a fenced-out expired holder fails its
        publish instead of clobbering — no lost commits either way).
        Since r9 the HOT append holds this lock only for its two short
        phases — offset-range reservation and the publish/manifest flip
        — with the payload write in between running unlocked, which is
        what lets concurrent writers on one stream overlap (see
        _hot_commit); the distributed tier still holds it across its
        write job.
        """
        return fsio.locked(self._lock_path(scope, stream))

    @staticmethod
    def _with_arrival_seq(df: DataFrame, routing_key_col: str) -> DataFrame:
        """Normalize input: ensure routing_key + a monotone arrival seq.

        ``monotonically_increasing_id`` is (partition << 33 | row) — it
        preserves intra-partition arrival order, which is the order
        contract the reference gives per routing key (per-key order is
        per *writer* arrival order; cross-partition interleaving is
        unordered there too, since different writers race).
        """
        out = df
        # NULL routing keys normalize to "" BEFORE hashing: the hot tier
        # would hash str(None)=='None' while the distributed CASE would
        # fall through to the last segment on a NULL md5 — the same key
        # must never route differently by batch size (per-key order)
        src = routing_key_col if routing_key_col != ROUTING_KEY else ROUTING_KEY
        out = out.withColumn(
            ROUTING_KEY, F.coalesce(F.col(src).cast("string"), F.lit(""))
        )
        return out.withColumn("_seq", F.monotonically_increasing_id())

    def write_events(
        self,
        scope: str,
        stream: str,
        df: DataFrame,
        routing_key_col: str = ROUTING_KEY,
        event_time_col: str | None = None,
        writer_id: str | None = None,
        batch_seq: int | None = None,
        note_time: bool = False,
        row_count_hint: int | None = None,
    ) -> dict[int, int]:
        """Append a batch of events; returns new tail offsets.

        Exactly-once on retry: pass (writer_id, batch_seq) — a batch_seq
        ≤ the writer's last committed one is skipped, mirroring the
        reference's writer-id/event-number dedup at the segment store
        (AppendProcessor.java:302-358).

        ``row_count_hint``: exact row count when the caller knows it
        (e.g. a streaming sink that derived the batch from offset
        vectors) — lets tier routing skip the bounded probe for batches
        it would discard anyway.
        """
        info = self.meta.get_stream(scope, stream)
        if info["sealed"]:
            raise StreamSealedException(f"{scope}/{stream} is sealed")
        writer_marker = None
        if writer_id is not None and batch_seq is not None:
            if batch_seq <= self._writer_seq(scope, stream).get(writer_id, -1):
                return self.meta.tail_offsets(scope, stream)  # duplicate retry
            writer_marker = (writer_id, batch_seq)
        staged = self._with_arrival_seq(df, routing_key_col)
        if event_time_col and event_time_col != EVENT_TIME:
            staged = staged.withColumn(EVENT_TIME, F.col(event_time_col).cast("timestamp"))
        # the seq marker commits atomically WITH visibility (same doc), so
        # a crash anywhere leaves either both or neither — retries dedup
        tails = self._commit_rows(
            scope, stream, staged, writer_marker=writer_marker, row_count_hint=row_count_hint
        )
        if note_time and writer_id is not None and EVENT_TIME in staged.columns:
            row = staged.agg(F.max(EVENT_TIME).alias("m")).collect()[0]
            if row["m"] is not None:
                self.note_time(scope, stream, writer_id, int(row["m"].timestamp() * 1000))
        return tails

    def append_events(
        self,
        scope: str,
        stream: str,
        events: list[dict],
        routing_key: str = ROUTING_KEY,
        event_time_key: str | None = None,
        writer_id: str | None = None,
        batch_seq: int | None = None,
        attribute_updates: dict[int, list[tuple]] | None = None,
    ) -> dict[int, int]:
        """writeEvent/writeEvents hot append (W1/W2): rows in, durable
        ack out, ZERO Spark jobs — the per-event client append path
        (EventStreamWriterImpl.writeEvent → AppendProcessor ack), where
        the reference measures its millisecond latencies. Events are a
        list of dicts sharing one schema; list order is arrival order
        (the per-key order contract). The same manifest flip as
        ``write_events`` makes it durable, atomic, and exactly-once
        under (writer_id, batch_seq) retry dedup; hot files and
        distributed files interleave freely in one stream.
        """
        import pyarrow as pa

        def build():
            # column-wise build, same semantics as Table.from_pylist (the
            # FIRST event's keys define the schema; missing keys -> null)
            # but ~2x faster on payload-heavy batches: from_pylist's
            # per-row dict scan was 9.9 ms of a 17 ms 100 KiB-batch append
            # (measured r8), and it runs GIL-bound, so concurrent writers'
            # prep stole time from the commit-lock holder's critical
            # section on top of the latency itself
            names = list(events[0].keys()) if events else []
            tbl = pa.table({k: [r.get(k) for r in events] for k in names})
            for name in tbl.column_names:
                if pa.types.is_null(tbl[name].type):
                    # an all-null column would be written as a NULL-typed
                    # parquet column and conflict with later typed appends
                    raise ValueError(
                        f"append_events column {name!r} is all-null; give it a "
                        "typed value in at least one event or omit the key"
                    )
            return tbl

        return self._hot_append(
            scope, stream, build, routing_key, event_time_key, writer_id, batch_seq,
            attribute_updates=attribute_updates,
        )

    def append_table(
        self,
        scope: str,
        stream: str,
        tbl,
        routing_key_col: str = ROUTING_KEY,
        event_time_col: str | None = None,
        writer_id: str | None = None,
        batch_seq: int | None = None,
    ) -> dict[int, int]:
        """Hot append of a pyarrow Table the driver already holds: zero
        Spark jobs, same atomic manifest flip and (writer_id, batch_seq)
        exactly-once dedup as ``append_events``. Table row order is
        arrival order (the per-key order contract); segment routing and
        offsets are assigned here, so stale envelope columns from a
        source stream are replaced. This is the commit half of the
        reader→writer pump loop (reference: EventStreamReaderImpl.java
        readNextEvent feeding EventStreamWriterImpl.writeEvent) — the
        caller is responsible for bounding the table to driver memory.
        """
        # a table's own event_time column is committed as it stands;
        # append_events casts even an event_time_key of "event_time"
        event_time = event_time_col if event_time_col != EVENT_TIME else None
        return self._hot_append(
            scope, stream, lambda: tbl, routing_key_col, event_time, writer_id, batch_seq
        )

    def _hot_append(self, scope: str, stream: str, build, routing_key: str,
                    event_time: str | None, writer_id: str | None, batch_seq: int | None,
                    attribute_updates: dict[int, list[tuple]] | None = None) -> dict[int, int]:
        """The ingest normalizer of both hot appends: refuse a sealed
        stream, answer a duplicate ``(writer_id, batch_seq)`` retry with
        the current tails, and only then take the Arrow table ``build()``
        returns, set its ``routing_key`` envelope column from the
        ``routing_key`` column cast to string with nulls as ``""``, set
        ``event_time`` from the ``event_time`` column cast to UTC
        microseconds when one is named, and commit it."""
        import pyarrow as pa
        import pyarrow.compute as pc

        info = self.meta.get_stream(scope, stream)
        if info["sealed"]:
            raise StreamSealedException(f"{scope}/{stream} is sealed")
        writer_marker = None
        if writer_id is not None and batch_seq is not None:
            if batch_seq <= self._writer_seq(scope, stream).get(writer_id, -1):
                return self.meta.tail_offsets(scope, stream)  # duplicate retry
            writer_marker = (writer_id, batch_seq)
        tbl = build()

        def put(tbl, name, col):
            if name in tbl.column_names:
                return tbl.set_column(tbl.column_names.index(name), name, col)
            return tbl.append_column(name, col)

        key = tbl[routing_key]
        if not pa.types.is_string(key.type):
            key = pc.cast(key, pa.string())
        tbl = put(tbl, ROUTING_KEY, pc.fill_null(key, ""))
        if event_time is not None:
            tbl = put(tbl, EVENT_TIME, pc.cast(tbl[event_time], pa.timestamp("us", tz="UTC")))
        return self._hot_commit(
            scope, stream, tbl, [], writer_marker, txn_marker=None,
            attribute_updates=attribute_updates,
        )

    @staticmethod
    def _already_applied(doc: dict, writer_marker, txn_marker) -> bool:
        """Exactly-once dedup, checked UNDER the commit lock: a replayed
        writer batch or a concurrently-retried txn commit is a no-op."""
        if writer_marker is not None and writer_marker[1] <= doc["writer_seqs"].get(writer_marker[0], -1):
            return True
        return txn_marker is not None and txn_marker in doc["committed_txns"]

    def write_event(
        self,
        scope: str,
        stream: str,
        routing_key: str,
        event: dict,
        **kw,
    ) -> dict[int, int]:
        """Single-event append (EventStreamWriter.writeEvent, W1)."""
        return self.append_events(
            scope, stream, [{**event, ROUTING_KEY: routing_key}], **kw
        )

    def _writer_seq(self, scope: str, stream: str) -> dict:
        return self.meta.segments_doc(scope, stream)["writer_seqs"]

    @staticmethod
    def _list_data_files(path: str) -> set[str]:
        """Relative paths of parquet data files under a stream dir."""
        return {
            f
            for f in fsio.list_files_recursive(path)
            if f.endswith(".parquet") and not os.path.basename(f).startswith(("_", "."))
        }

    def _commit_rows(
        self,
        scope: str,
        stream: str,
        staged: DataFrame,
        writer_marker: tuple[str, int] | None = None,
        txn_marker: str | None = None,
        row_count_hint: int | None = None,
    ) -> dict[int, int]:
        """Assign segments + contiguous offsets and commit atomically.

        Single commit point per batch (SURVEY §7 hard parts 1+2): offsets
        = base tail + row_number within segment ordered by arrival seq.
        Visibility is manifest-based — the segments doc lists the
        committed parquet files per segment, and that one atomic JSON
        write (os.replace; on S3/HDFS a conditional-put manifest) flips
        data + offsets + file manifest + exactly-once markers together.
        A crash after the parquet append but before the doc write leaves
        orphan files that no reader sees; a retry appends fresh files at
        the SAME offsets without duplicates (fsck_stream reaps orphans).

        Two tiers, reference-shaped (DurableLog fast ack vs StorageWriter
        tiering): small batches (by Catalyst size estimate) commit
        driver-side via pyarrow — one collect, zero distributed jobs;
        larger batches run the distributed write with per-segment offset
        windows. Both end at the same manifest flip. The whole section
        (tail read → offset assignment → publish) runs under the stream
        commit lock so concurrent processes serialize; the publish is
        additionally version-conditional (see _commit_lock).
        """
        path = self._stream_path(scope, stream)
        order_cols = [c for c in ("_part", "_seq") if c in staged.columns]
        tag = uuid.uuid4().hex[:8]

        # Tier routing runs OUTSIDE the lock (r9): the estimate/probe is
        # a pure function of the batch, and collecting a hot batch is a
        # Spark action no concurrent writer should serialize behind. A
        # replayed duplicate now pays this collect before the reserve-
        # time dedup check catches it — retries are the rare path.
        est = self._estimate_bytes(staged)
        hot = None
        if 0 < HOT_MAX_EST_BYTES >= est:
            hot = staged.toArrow()
        elif (
            HOT_MAX_EST_BYTES > 0
            and est >= _UNKNOWN_EST_BYTES
            and HOT_MAX_ROWS > 0
            and not (row_count_hint is not None and row_count_hint > HOT_MAX_ROWS)
        ):
            # HOT_MAX_EST_BYTES=0 disables the hot tier entirely —
            # including this unknown-stats probe branch. An exact
            # row-count hint above the cap skips the probe outright:
            # the old behavior paid a discarded bounded collect AND
            # the distributed scan for every oversized trigger
            # no Catalyst stats (Python-source micro-batch): bounded
            # collect in ONE action — if the batch fits the hot cap
            # we already hold all of it; only an oversized trigger
            # pays a second (distributed) scan. Rows are bounded by
            # the limit; BYTES are bounded by the driver's
            # maxResultSize guard — wide-payload batches that trip
            # it route to the distributed tier instead of failing.
            try:
                probe = staged.limit(HOT_MAX_ROWS + 1).toArrow()
                if probe.num_rows <= HOT_MAX_ROWS:
                    hot = probe
            except Exception:
                hot = None
        if hot is not None:
            return self._hot_commit(scope, stream, hot, order_cols, writer_marker, txn_marker)

        # Distributed tier: the write job is long, so it keeps the
        # legacy shape — one lock session around offset assignment,
        # write, and publish (the heartbeat keeps the lease fresh).
        # Offsets base at the RESERVED tail, so a hot writer that
        # reserved before this job took the lock keeps its range; this
        # commit then lands as a pending entry until that writer
        # publishes (see _publish_locked).
        with self._commit_lock(scope, stream):
            doc = self.meta.segments_doc(scope, stream)
            obsolete = self._reap_reservations_locked(doc, path)
            if self._already_applied(doc, writer_marker, txn_marker):
                self._flush_reap(scope, stream, doc, obsolete, path)
                return {int(k): v["tail_offset"] for k, v in doc["segments"].items()}
            ranges = self.meta.active_ranges(scope, stream)
            bases = {sid: self._reserved_tail(doc, str(sid)) for sid, _, _ in ranges}
            new_files, counts = self._write_distributed_batch(
                staged, ranges, bases, order_cols, path, tag
            )
            entries = {
                sid: {"base": bases[sid], "n": counts[sid], "files": files}
                for sid, files in new_files.items()
            }
            return self._publish_locked(
                scope, stream, doc, entries, writer_marker, txn_marker,
                obsolete=obsolete or (),
            )

    @staticmethod
    def _estimate_bytes(df: DataFrame) -> int:
        """Catalyst plan-statistics size estimate — no job. Conservative
        failure mode: if the internal API moves, route to the distributed
        tier (always correct)."""
        try:
            return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        except Exception:
            return 1 << 62

    def _hot_commit(
        self,
        scope: str,
        stream: str,
        tbl,
        order_cols: list[str],
        writer_marker: tuple[str, int] | None,
        txn_marker: str | None = None,
        attribute_updates: dict[int, list[tuple]] | None = None,
    ) -> dict[int, int]:
        """Driver-side append: reserve offsets → write payload OUTSIDE
        the lock → publish.

        The r8 profile showed the entire append (payload parquet encode
        + manifest shards + doc flip) inside ONE per-stream critical
        section, ~84% lock-busy under 4 writers — aggregate throughput
        was flat in writer count (x4 ≈ x1). The reference serializes
        appends per SEGMENT inside the owning segment store
        (AppendProcessor.java:302), not per stream; this split gets the
        same concurrency on a shared stream: only the offset-range
        reservation and the manifest flip hold the lock (~2-3 ms each),
        while payload encode/write — the dominant cost — overlaps
        across writers. Durability ordering is unchanged: files land
        before the doc references them, and a crash between reserve and
        publish leaves an expired reservation whose gap the next lock
        holder repairs (_reap_reservations_locked).
        """
        import pyarrow as pa

        if tbl.num_rows == 0:
            return self.meta.tail_offsets(scope, stream)
        if order_cols:
            # _seq (and _part) are unique, so sort order is total
            tbl = tbl.sort_by([(c, "ascending") for c in order_cols])
            tbl = tbl.drop_columns(order_cols)
        # stream-to-stream copies arrive with the SOURCE's envelope;
        # segment/offset/ingest are reassigned here (the distributed
        # path's withColumn replaces them — mirror that, don't duplicate)
        stale = [c for c in (SEGMENT_ID, OFFSET, INGEST_TIME) if c in tbl.column_names]
        if stale:
            tbl = tbl.drop_columns(stale)
        path = self._stream_path(scope, stream)
        deadline = time.time() + RESERVATION_GRACE_MS / 1000.0 + 60.0
        fences = 0  # read-repair force-expiries of THIS batch so far
        while True:
            # --- route (outside the lock; epoch validated under it) ---
            epoch = self.meta.active_epoch(scope, stream)
            ranges = [(s["segment_id"], s["key_start"], s["key_end"]) for s in epoch["segments"]]
            keys = tbl[ROUTING_KEY].to_pylist()
            uniq = {k: segment_for_key_py(k, ranges) for k in set(keys)}
            seg_ids = [uniq[k] for k in keys]
            seg_arr = pa.array(seg_ids, type=pa.int64())
            counts: dict[int, int] = {}
            for sid in seg_ids:
                counts[sid] = counts.get(sid, 0) + 1

            # --- phase 1: reserve (short lock) ---
            retry = False
            with self._commit_lock(scope, stream):
                doc = self.meta.segments_doc(scope, stream)
                obsolete = self._reap_reservations_locked(doc, path)
                if self._already_applied(doc, writer_marker, txn_marker):
                    self._flush_reap(scope, stream, doc, obsolete, path)
                    return {int(k): v["tail_offset"] for k, v in doc["segments"].items()}
                # same-writer / same-txn in-flight guard: a concurrent
                # retry of a batch whose FIRST attempt holds an open
                # reservation must wait for it to publish (→ dedup) or
                # expire (→ this attempt re-reserves; the dead attempt's
                # files stay invisible orphans) — without this, both
                # would pass the writer_seqs check and double-append.
                inflight = any(
                    (writer_marker is not None and r.get("writer") == writer_marker[0])
                    or (txn_marker is not None and r.get("txn") == txn_marker)
                    for r in doc.get("reservations", {}).values()
                )
                drain_ts = doc.get("draining", 0)
                if inflight:
                    retry = True
                    self._flush_reap(scope, stream, doc, obsolete, path)
                elif drain_ts and int(time.time() * 1000) - drain_ts < DRAINING_STALE_MS:
                    # a seal/scale drain is waiting for quiescence: admit
                    # no NEW reservation (in-flight ones publish through)
                    # so sustained appenders can't starve the control
                    # plane; a crashed drainer's flag goes stale and is
                    # ignored (the drainer refreshes it while alive)
                    retry = True
                    self._flush_reap(scope, stream, doc, obsolete, path)
                else:
                    # re-check the stream seal UNDER the lock: seal_stream
                    # drains reservations, but an append whose entry check
                    # passed BEFORE the seal completed would otherwise
                    # reserve into the sealed stream (raise, don't retry —
                    # this is the caller's StreamSealedException contract).
                    # The flag is the denormalized copy seal_stream writes
                    # into THIS doc, so the check is free of extra I/O.
                    if doc.get("sealed"):
                        raise StreamSealedException(f"{scope}/{stream} is sealed")
                    # Stale routing (a scale landed since we read the
                    # epoch) is detected HERE without re-reading the
                    # epochs doc: scale only repartitions the SEALED
                    # segments' key space, so a stale route either hits
                    # a carried segment (same range — still correct) or
                    # a sealed one — which _reserve_locked rejects and
                    # we re-route against the fresh epoch.
                    try:
                        res_id, bases = self._reserve_locked(
                            doc, counts, writer_marker, txn_marker, attempt=fences
                        )
                    except StreamSealedException:
                        retry = True
                        res_id = None
                    if res_id is not None:
                        self.meta.put_segments_doc(scope, stream, doc, expected_version=doc["version"])
                        for rel in obsolete or ():
                            fsio.remove(fsio.join(path, rel))
            if retry:
                if time.time() > deadline:
                    raise TimeoutError(
                        f"append to {scope}/{stream} could not reserve offsets "
                        f"within the reservation grace window"
                    )
                time.sleep(0.002)
                continue

            # --- phase 2: payload (NO lock — overlaps across writers) ---
            # A crash here leaves the reservation to expire; any files
            # already written are invisible orphans (fsck reaps them).
            tag = uuid.uuid4().hex[:8]
            new_files, wcounts = self._write_hot_batch(tbl, seg_arr, bases, path, tag)

            # --- phase 3: publish (short lock) ---
            with self._commit_lock(scope, stream):
                doc = self.meta.segments_doc(scope, stream)
                obsolete = self._reap_reservations_locked(doc, path, keep=res_id)
                res = doc.get("reservations", {}).pop(res_id, None)
                if res is None or any(
                    res["segs"][str(sid)][0] != base for sid, base in bases.items()
                ):
                    # fenced: we were paused past the grace and the gap
                    # was repaired (reservation reaped, or an expired
                    # sibling's removal shifted our unreclaimed entry).
                    # Our files' absolute offsets are no longer valid —
                    # orphan them and retry from routing; writer_seqs
                    # were never advanced, so exactly-once holds. (The
                    # pop above already discarded the shifted entry.)
                    if obsolete is not None or res is not None:
                        self.meta.put_segments_doc(scope, stream, doc, expected_version=doc["version"])
                        for rel in obsolete or ():
                            fsio.remove(fsio.join(path, rel))
                    retry = True
                    fences += 1  # next reservation carries attempt=fences
                else:
                    entries = {
                        sid: {"base": bases[sid], "n": wcounts[sid], "files": files}
                        for sid, files in new_files.items()
                    }
                    try:
                        return self._publish_locked(
                            scope, stream, doc, entries, writer_marker, txn_marker,
                            attribute_updates=attribute_updates, obsolete=obsolete or (),
                        )
                    except BaseException:
                        # aborted commit (e.g. failed attribute CAS): the
                        # holder is alive and KNOWS it will never publish
                        # — release the reserved range NOW instead of
                        # stalling later writers for the grace window.
                        # The in-memory doc is mid-mutation; re-read the
                        # stored one, force-expire our entry, and let the
                        # reap rules clear it (or mark it for the next
                        # lock holder if a live reservation sits above).
                        doc2 = self.meta.segments_doc(scope, stream)
                        if res_id in doc2.get("reservations", {}):
                            doc2["reservations"][res_id]["ts"] = -(1 << 50)
                            cancel_obs = self._reap_reservations_locked(doc2, path)
                            self.meta.put_segments_doc(
                                scope, stream, doc2, expected_version=doc2["version"]
                            )
                            for rel in cancel_obs or ():
                                fsio.remove(fsio.join(path, rel))
                        raise
            for files in new_files.values():  # best-effort orphan cleanup
                for rel, _lo, _hi in files:
                    try:
                        fsio.remove(fsio.join(path, rel))
                    except OSError:
                        pass
            if time.time() > deadline:
                raise TimeoutError(f"append to {scope}/{stream} repeatedly fenced")

    def _write_hot_batch(
        self,
        tbl,
        seg_arr,
        bases: dict[int, int],
        path: str,
        tag: str,
    ) -> tuple[dict[int, list[list]], dict[int, int]]:
        """Write one parquet file per touched segment at pre-reserved
        offsets — the payload half of the hot append, called WITHOUT the
        commit lock (offsets were fixed at reserve time, so nothing here
        depends on shared state). Returns each segment's manifest entry
        ``[name, base, base + n]`` and row count.

        Pure-Arrow on purpose: a pandas round-trip would upconvert the
        µs timestamps Spark emitted to ns, and this session reads
        TIMESTAMP(NANOS) parquet as LONG (nanosAsLong) — the hot files
        must carry exactly the types the distributed writer produces.
        Per-segment writes fan out over the shared module pool
        (pyarrow's parquet writer releases the GIL), mirroring the
        distributed tier's thread-pooled promotion.
        """
        import pyarrow as pa
        import pyarrow.compute as pc

        ts_us = pa.timestamp("us", tz="UTC")
        now = pa.scalar(int(time.time() * 1_000_000)).cast(ts_us)

        def _write_seg(sid: int) -> tuple[int, str, int] | None:
            seg = tbl.filter(pc.equal(seg_arr, sid))
            n = seg.num_rows
            if n == 0:
                return None
            base = bases[sid]
            s = seg.append_column(OFFSET, pa.array(range(base, base + n), type=pa.int64()))
            s = s.append_column(INGEST_TIME, pa.array([now.as_py()] * n, type=ts_us))
            if EVENT_TIME not in s.column_names:
                s = s.append_column(EVENT_TIME, pa.nulls(n, type=ts_us))
            dst_rel = os.path.join(f"segment_id={sid}", f"commit-{tag}-hot.parquet")
            fsio.parquet_write_table(s, fsio.join(path, dst_rel))
            return sid, [dst_rel, base, base + n], n

        sids = sorted(bases)
        if len(sids) == 1:
            results = [_write_seg(sids[0])]
        else:
            results = list(_io_pool().map(_write_seg, sids))
        new_files: dict[int, list[list]] = {}
        counts: dict[int, int] = {}
        for r in results:
            if r is None:
                continue
            sid, entry, n = r
            new_files[sid] = [entry]
            counts[sid] = n
        return new_files, counts

    def _write_distributed_batch(
        self,
        staged: DataFrame,
        ranges,
        bases: dict[int, int],
        order_cols: list[str],
        path: str,
        tag: str,
    ) -> tuple[dict[int, list[list]], dict[int, int]]:
        base = F.create_map(*[x for sid in [r[0] for r in ranges] for x in (F.lit(sid), F.lit(bases.get(sid, 0)))])
        # arrival order: optional txn part number first, then intra-part seq
        w = Window.partitionBy(SEGMENT_ID).orderBy(*[F.col(c) for c in order_cols])
        out = (
            staged.withColumn(SEGMENT_ID, segment_for_ranges(hash_to_range(F.col(ROUTING_KEY)), ranges))
            .withColumn(OFFSET, (F.row_number().over(w) - 1 + base[F.col(SEGMENT_ID)]).cast("long"))
            .withColumn(INGEST_TIME, F.current_timestamp())
            .drop(*order_cols)
        )
        if EVENT_TIME not in out.columns:
            out = out.withColumn(EVENT_TIME, F.lit(None).cast("timestamp"))
        # ONE Spark job (the write) into a PRIVATE temp dir: discovering
        # the batch's files lists O(batch), never O(stream) — a full
        # stream-dir LIST per commit would be the scaling bottleneck at
        # ~10^5 live files. Files then move into the segment dirs under
        # unique names (invisible until the manifest flip).
        tmp = f"{path}.commit.{tag}"
        out.write.mode("overwrite").partitionBy(SEGMENT_ID).parquet(tmp)
        new_files = self._promote_files(tmp, path, f"commit-{tag}-")
        counts = {sid: sum(n for _e, n in got) for sid, got in new_files.items()}
        return {sid: [e for e, _n in got] for sid, got in new_files.items()}, counts

    def _promote_files(self, tmp: str, path: str, prefix: str) -> dict[int, list[tuple[list, int]]]:
        """Move a Spark job's ``segment_id=N`` output from ``tmp`` into
        the stream dir under ``prefix``-ed unique names (invisible until
        a manifest flip references them) and remove ``tmp``. Returns
        {sid: [(entry [name, lo, hi], rows)]} in file-name order; rows
        and the offset range come from ONE parquet footer read per file
        (driver-side metadata reads — no second job, no persist). Moves
        + footer reads fan out over a thread pool since each is an
        independent rename + metadata GET. Empty files are removed."""

        def _promote(rel: str):
            seg_part = rel.split(os.sep, 1)[0]
            if not seg_part.startswith("segment_id="):
                return None
            sid = int(seg_part.split("=", 1)[1])
            dst_rel = os.path.join(seg_part, f"{prefix}{os.path.basename(rel)}")
            fsio.move(fsio.join(tmp, rel), fsio.join(path, dst_rel))
            n, lo, hi = fsio.parquet_rows_and_range(fsio.join(path, dst_rel), OFFSET)
            if n == 0:
                fsio.remove(fsio.join(path, dst_rel))
                return None
            return sid, [dst_rel, lo, hi + 1], n

        rels = sorted(self._list_data_files(tmp))
        promoted = [r for r in _io_pool().map(_promote, rels) if r is not None]
        fsio.rmtree(tmp)
        out: dict[int, list[tuple[list, int]]] = {}
        for sid, entry, n in promoted:
            out.setdefault(sid, []).append((entry, n))
        return out

    # ---------- reservation protocol (r9: per-stream lock sharding) ----------
    # The segments doc carries two extra structures so the hot append can
    # release the lock while its payload writes:
    #   reservations: {res_id: {"segs": {sid: [base, n]}, "ts": ms,
    #                           "writer"/"txn": marker}} — offset ranges
    #     handed out but not yet published;
    #   pending: {sid: [{"base", "n", "files": [[name, lo, hi], ...]}]}
    #     — published (durable, acked) commits whose offsets are not yet
    #     contiguous with the visible tail because an earlier
    #     reservation is still open.
    # Readers see ONLY the manifest, so both structures are invisible to
    # the data plane until absorption flips them in.

    def _flush_reap(self, scope: str, stream: str, doc: dict, obsolete, path: str) -> None:
        """Persist a reap's doc mutations (conditional write) and delete
        the renamed-away old pending files — no-op when the reap changed
        nothing. Callers hold the commit lock; deletion strictly AFTER
        the doc write keeps the crash ordering (old names must stay
        resolvable until the doc references the new ones)."""
        if obsolete is None:
            return
        self.meta.put_segments_doc(scope, stream, doc, expected_version=doc["version"])
        for rel in obsolete:
            fsio.remove(fsio.join(path, rel))

    @staticmethod
    def _reserved_tail(doc: dict, sid_str: str) -> int:
        """Next free offset in a segment: visible tail plus every open
        reservation and un-absorbed pending entry above it."""
        t = doc["segments"].get(sid_str, {}).get("tail_offset", 0)
        for e in doc.get("pending", {}).get(sid_str, ()):
            t = max(t, e["base"] + e["n"])
        for r in doc.get("reservations", {}).values():
            seg = r["segs"].get(sid_str)
            if seg:
                t = max(t, seg[0] + seg[1])
        return t

    def _reserve_locked(
        self,
        doc: dict,
        counts: dict[int, int],
        writer_marker: tuple[str, int] | None,
        txn_marker: str | None = None,
        attempt: int = 0,
    ) -> tuple[str, dict[int, int]]:
        """Claim [reserved_tail, reserved_tail+n) per touched segment.
        Mutates ``doc``; the caller persists it (conditional write) and
        may then write payload files at these offsets WITHOUT the lock.
        ``attempt`` counts prior read-repair fences of this same batch;
        readers scale their force-expiry deadline by it (see
        _stale_gap_blockers) so a slow-but-live writer converges.
        """
        res_id = uuid.uuid4().hex
        segs: dict[str, list[int]] = {}
        for sid, n in counts.items():
            sid_str = str(sid)
            seg = doc["segments"].setdefault(
                sid_str, {"sealed": False, "head_offset": 0, "tail_offset": 0, "event_count": 0}
            )
            if seg.get("sealed"):
                raise StreamSealedException(f"segment {sid} is sealed")
            segs[sid_str] = [self._reserved_tail(doc, sid_str), int(n)]
        entry: dict = {"segs": segs, "ts": int(time.time() * 1000)}
        if attempt:
            entry["attempt"] = int(attempt)
        if writer_marker is not None:
            entry["writer"] = writer_marker[0]
        if txn_marker is not None:
            entry["txn"] = txn_marker
        doc.setdefault("reservations", {})[res_id] = entry
        return res_id, {int(s): b for s, (b, _n) in segs.items()}

    def _reap_reservations_locked(
        self, doc: dict, path: str, keep: str | None = None
    ) -> list[str] | None:
        """Repair gaps left by writers that crashed between reserve and
        publish. Called under the commit lock by every lock holder.

        An expired reservation is droppable iff no LIVE reservation sits
        above any of its ranges (shifting a live holder's base would
        invalidate the absolute offsets its payload files already
        carry). Dropping it shifts every pending entry and expired
        sibling above it down by the gap; pending files are REWRITTEN
        under new names with renumbered offsets — crash-safe ordering:
        new-name files land first, the caller's conditional doc write
        flips the names, and only then are the old names deletable.

        Returns None if the doc is untouched, else the list of obsolete
        (old-name) file rel-paths the caller must delete AFTER its doc
        write. A crash before that write leaves the new-name files as
        invisible orphans; after it, the old names — either way fsck
        reaps them.
        """
        res = doc.get("reservations")
        if not res:
            return None
        now = int(time.time() * 1000)
        # ``keep``: the caller's OWN reservation (publish path) — its
        # holder is provably alive, so it is live regardless of age and
        # its ranges block shifts like any live reservation's
        expired = {
            rid for rid, r in res.items()
            if rid != keep and now - r["ts"] > RESERVATION_GRACE_MS
        }
        if not expired:
            return None
        obsolete: list[str] = []
        changed = False
        for rid in sorted(expired):
            r = res.get(rid)
            if r is None:
                continue
            blocked = any(
                rid2 not in expired
                and sid_str in r2["segs"]
                and r2["segs"][sid_str][0] > base
                for sid_str, (base, _n) in r["segs"].items()
                for rid2, r2 in res.items()
                if rid2 != rid
            )
            if blocked:
                continue
            for sid_str, (base, n) in r["segs"].items():
                for e in doc.get("pending", {}).get(sid_str, []):
                    if e["base"] > base:
                        obsolete += self._shift_pending_entry(path, e, n)
                        e["base"] -= n
                for rid2 in expired:
                    if rid2 == rid or rid2 not in res:
                        continue
                    seg2 = res[rid2]["segs"].get(sid_str)
                    if seg2 and seg2[0] > base:
                        # shifting an expired sibling is safe: if its
                        # holder revives, publish detects the moved base
                        # and retries instead of landing stale offsets
                        seg2[0] -= n
            del res[rid]
            changed = True
        return obsolete if changed else None

    @staticmethod
    def _shift_pending_entry(path: str, entry: dict, gap: int) -> list[str]:
        """Renumber one pending commit's files down by ``gap`` offsets
        (crash-repair only). Writes renumbered copies under NEW names,
        updates ``entry["files"]`` in place — names AND offset ranges:
        a range left unshifted would make range-pruned readers skip the
        rows — and returns the old names for post-doc-write deletion."""
        import pyarrow as pa
        import pyarrow.compute as pc

        old_files = [rel for rel, _lo, _hi in entry["files"]]
        new_entries = []
        for rel, lo, hi in entry["files"]:
            t = fsio.parquet_read_table(fsio.join(path, rel))
            idx = t.column_names.index(OFFSET)
            t = t.set_column(idx, OFFSET, pc.subtract(t[OFFSET], pa.scalar(gap, pa.int64())))
            d, b = os.path.split(rel)
            new_rel = os.path.join(d, f"shift{uuid.uuid4().hex[:6]}-{b}")
            fsio.parquet_write_table(t, fsio.join(path, new_rel))
            new_entries.append([new_rel, lo - gap, hi - gap])
        entry["files"] = new_entries
        return old_files

    def _publish_locked(
        self,
        scope: str,
        stream: str,
        doc: dict,
        entries: dict[int, dict],
        writer_marker: tuple[str, int] | None,
        txn_marker: str | None,
        attribute_updates: dict[int, list[tuple]] | None = None,
        obsolete=(),
    ) -> dict[int, int]:
        """The single atomic commit point: files + offsets + markers
        (+ optional per-segment attribute updates — atomic WITH the
        append, the reference's AttributeUpdateCollection semantics).

        ``entries`` maps sid → {"base", "n", "files"} (``files`` holds
        manifest entries ``[name, lo, hi]``); each lands in the
        segment's pending list, then the contiguous prefix at the
        visible tail is absorbed into the manifest. A later-reserved
        writer that publishes first therefore stays durable-but-
        invisible until the earlier reservation publishes — offsets stay
        contiguous and readers never see a gap. Exactly-once markers
        advance at PUBLISH (durable == acked), even if visibility waits.

        Manifest protocol: each absorbed entry appends, unchanged, to the
        segment's bounded in-doc ``chain`` — O(1) doc bytes per commit.
        When a chain exceeds CHAIN_MAX entries, the full list folds into
        a fresh tag-named snapshot shard ``manifests/<sid>.<tag>.json``
        written BEFORE the doc flip, and the chain resets — so the
        amortized commit writes O(touched segments) small updates, the
        doc stays O(segments), and the r8 shape (full per-segment file
        list rewritten EVERY commit, O(files/segment) JSON inside the
        critical section) is gone. Readers resolve either all-old or
        all-new off the single conditional doc write; a crash between
        snapshot write and doc flip leaves an unreferenced shard (reaped
        with data orphans).
        """
        segs = doc["segments"]
        ver = doc["version"]
        pend = doc.setdefault("pending", {})
        for sid, e in entries.items():
            if e["n"] == 0:
                continue
            pend.setdefault(str(sid), []).append(
                {"base": e["base"], "n": e["n"], "files": sorted(e["files"])}
            )
        gc: list[tuple[str, int]] = []
        shards: list[tuple[str, str, list[list]]] = []
        for sid_str in sorted(pend, key=int):
            waiting = sorted(pend[sid_str], key=lambda e: e["base"])
            s = segs.setdefault(
                sid_str, {"sealed": False, "head_offset": 0, "tail_offset": 0, "event_count": 0}
            )
            absorbed: list[list] = []
            n_abs = 0
            while waiting:
                b = waiting[0]["base"]
                if b == s["tail_offset"] + n_abs:
                    e = waiting.pop(0)
                    absorbed += e["files"]
                    n_abs += e["n"]
                elif b < s["tail_offset"] + n_abs:
                    # corrupt-state repair (r11 ADVICE): a pending entry
                    # strictly below the visible tail covers offsets that
                    # are ALREADY visible — the reserve/publish protocol
                    # never produces one, so absorbing it would double-
                    # publish. Drop it (its files become unreferenced ->
                    # fsck orphans); without this, _stranded_pending's
                    # `min(base) <= tail` keeps firing and every read/
                    # tail poll takes the commit lock without converging.
                    waiting.pop(0)
                else:
                    break
            if waiting:
                pend[sid_str] = waiting
            else:
                del pend[sid_str]
            if not absorbed:
                continue
            chain = s.setdefault("chain", [])
            chain.extend(absorbed)
            s["tail_offset"] += n_abs
            s["event_count"] += n_abs
            if len(chain) > CHAIN_MAX:
                # fold the chain into a fresh tag-named snapshot — tag
                # names make concurrent processes' snapshots
                # collision-free by construction
                full = self.meta.segment_entries(scope, stream, sid_str, s)
                tag = uuid.uuid4().hex[:8]
                shards.append((sid_str, tag, full))
                if "manifest" in s:
                    gc.append((sid_str, s["manifest"]))
                s["manifest"] = tag
                s["chain"] = []
        # snapshot folds are rare (every CHAIN_MAX commits per segment)
        # and independent — fan them out BEFORE the doc flip (crash
        # ordering: an unreferenced snapshot is an invisible orphan)
        if len(shards) > 1:
            list(
                _io_pool().map(
                    lambda sh: self.meta.write_segment_manifest(scope, stream, sh[0], sh[1], sh[2]),
                    shards,
                )
            )
        elif shards:
            self.meta.write_segment_manifest(scope, stream, shards[0][0], shards[0][1], shards[0][2])
        if writer_marker is not None:
            doc["writer_seqs"][writer_marker[0]] = writer_marker[1]
        if txn_marker is not None:
            doc["committed_txns"].append(txn_marker)
        for sid, upds in (attribute_updates or {}).items():
            entry = segs.get(str(sid))
            if entry is None:
                raise StreamNotFoundException(f"segment {sid} of {scope}/{stream}")
            # raises BadAttributeUpdateException BEFORE the doc write, so
            # a failed CAS aborts the whole commit — data and attributes
            # land together or not at all (files stay invisible orphans)
            self._apply_attribute_updates(entry, upds)
        self.meta.put_segments_doc(scope, stream, doc, expected_version=ver)
        for sid_str, old_ver in gc:  # now-unreferenced manifest shards
            self.meta.drop_segment_manifest(scope, stream, sid_str, old_ver)
        for rel in obsolete:  # old names of reap-renumbered pending files
            fsio.remove(fsio.join(self._stream_path(scope, stream), rel))
        return {int(k): v["tail_offset"] for k, v in segs.items()}

    def fsck_stream(self, scope: str, stream: str) -> list[str]:
        """Reap orphan parquet files (crashed commits / compactions):
        anything on disk that no manifest entry references.

        Runs UNDER the commit lock — a lockless fsck could delete a
        concurrent commit's just-written manifest shard or just-moved
        data files in the window before its doc flip. Compaction stages
        its rewritten files OUTSIDE the lock (by design, the rewrite is
        long), so after reaping data files fsck bumps the doc version:
        a compaction staged before the reap then fails its conditional
        flip instead of publishing a manifest of deleted files.
        """
        path = self._stream_path(scope, stream)
        with self._commit_lock(scope, stream):
            doc = self.meta.segments_doc(scope, stream)
            segs = doc["segments"]
            # fsck is the repair tool: clear expired reservations first so
            # their gaps don't stall absorption forever
            reap_obsolete = self._reap_reservations_locked(doc, path)
            # ... and ABSORB any pending commit the reap made (or left)
            # contiguous at a visible tail: it is durable and acked, and
            # on a quiescent stream no later publish will ever flip it
            # in — without this, fsck "repairs" the stream but leaves a
            # stranded commit invisible indefinitely (r10 ADVICE).
            if self._stranded_pending(doc):
                self._publish_locked(
                    scope, stream, doc, {}, None, None, obsolete=reap_obsolete or ()
                )
                reap_obsolete = None  # consumed by the publish above
            referenced = {
                f
                for sid, s in segs.items()
                for f in self.meta.segment_files(scope, stream, sid, s)
            }
            # pending (published-not-yet-contiguous) commits are durable
            # and referenced by the doc — NOT orphans; files an OPEN
            # reservation's holder may be writing right now aren't listed
            # anywhere yet, so fsck with live writers could reap an
            # in-flight commit's files — skip data reaping then (they're
            # orphans only once the reservation expires).
            for entries in doc.get("pending", {}).values():
                for e in entries:
                    referenced.update(rel for rel, _lo, _hi in e["files"])
            if doc.get("reservations"):
                self._flush_reap(scope, stream, doc, reap_obsolete, path)
                return []
            # reap-renumbered old names are deletable only AFTER the doc
            # flips to the new names — exclude them from the scan pass
            # and remove them after the conditional write below
            orphans = sorted(
                self._list_data_files(path) - referenced - set(reap_obsolete or ())
            )
            for f in orphans:
                fsio.remove(fsio.join(path, f))
            if orphans or reap_obsolete is not None:
                # fence out any compaction whose rewrite raced the reap
                self.meta.put_segments_doc(scope, stream, doc, expected_version=doc["version"])
                for rel in reap_obsolete or []:
                    fsio.remove(fsio.join(path, rel))
            orphans += reap_obsolete or []
            # sweep unreferenced manifest shards too (left by a crash between
            # shard write and doc flip, or by a lost compaction race)
            live = {f"{sid}.{s['manifest']}.json" for sid, s in segs.items() if "manifest" in s}
            shard_dir = self.meta._doc_path(scope, stream, "manifests")
            for rel in fsio.list_files_recursive(shard_dir):
                if rel.endswith(".json") and rel not in live:
                    orphans.append(os.path.join("_manifests", rel))
                    fsio.remove(fsio.join(shard_dir, rel))
            return orphans

    # ================= transactions (X1-X2) =================
    def begin_txn(self, scope: str, stream: str, lease_ms: int = DEFAULT_TXN_LEASE_MS) -> Transaction:
        info = self.meta.get_stream(scope, stream)
        if info["sealed"]:
            raise StreamSealedException(f"{scope}/{stream} is sealed")
        txn_id = uuid.uuid4().hex
        doc = self.meta.txn_doc(scope, stream)
        doc[txn_id] = {
            "status": Transaction.OPEN,
            "created": int(time.time() * 1000),
            "lease_expiry": int(time.time() * 1000) + lease_ms,
            "parts": 0,
        }
        self.meta.put_txn_doc(scope, stream, doc)
        return Transaction(self, scope, stream, txn_id)

    def get_txn(self, scope: str, stream: str, txn_id: str) -> Transaction:
        txn = Transaction(self, scope, stream, txn_id)
        txn._doc()  # raises if unknown
        return txn

    def list_completed_txns(self, scope: str, stream: str) -> dict[str, str]:
        return {
            k: v["status"]
            for k, v in self.meta.txn_doc(scope, stream).items()
            if v["status"] != Transaction.OPEN
        }

    def sweep_txns(self, scope: str, stream: str, now_ms: int | None = None) -> list[str]:
        """Abort expired open txns (TxnSweeper.java analogue)."""
        now_ms = now_ms or int(time.time() * 1000)
        doc = self.meta.txn_doc(scope, stream)
        swept = []
        for txn_id, t in doc.items():
            if t["status"] == Transaction.OPEN and t["lease_expiry"] < now_ms:
                Transaction(self, scope, stream, txn_id).abort()
                swept.append(txn_id)
            elif t["status"] == Transaction.COMMITTING and t["lease_expiry"] < now_ms:
                # a commit that crashed after its point of no return is
                # rolled FORWARD (the txn marker makes the data merge
                # idempotent) — the reference's CommitRequestHandler
                # completes in-flight commits the same way
                Transaction(self, scope, stream, txn_id).commit()
                swept.append(txn_id)
        return swept

    # ================= read path (R4-R8) =================
    # ---- reader-triggered visibility repair (r10, G1) ----
    @staticmethod
    def _stranded_pending(doc: dict) -> bool:
        """A pending entry sits AT a segment's visible tail: contiguous
        and absorbable, but nobody is coming to absorb it (publish does
        this atomically, so at rest it only exists after a crash mid-
        protocol — e.g. a reserve-path reap shifted it down and the
        reserving writer then died)."""
        segs = doc.get("segments", {})
        return any(
            entries
            and min(e["base"] for e in entries) <= segs.get(sid_str, {}).get("tail_offset", 0)
            for sid_str, entries in doc.get("pending", {}).items()
        )

    @staticmethod
    def _stale_gap_blockers(doc: dict, deadline_ms: int | None = None) -> set[str]:
        """Reservations that (a) sit below a published-but-invisible
        pending commit in some segment and (b) are older than the
        read-repair deadline — i.e. the writer that claimed the range
        has had ~1000x a hot payload's time to publish and hasn't. A
        YOUNG reservation below a pending entry is a live writer about
        to publish; readers leave it alone (no lock taken)."""
        pend = doc.get("pending")
        res = doc.get("reservations")
        if not pend or not res:
            return set()
        now = int(time.time() * 1000)
        dl = READ_REPAIR_DEADLINE_MS if deadline_ms is None else deadline_ms
        out: set[str] = set()
        for sid_str, entries in pend.items():
            if not entries:
                continue
            tail = doc["segments"].get(sid_str, {}).get("tail_offset", 0)
            emin = min(e["base"] for e in entries)
            if emin <= tail:
                continue  # contiguous — _stranded_pending handles it
            for rid, r in res.items():
                seg = r["segs"].get(sid_str)
                # adaptive deadline (r11 ADVICE): a reservation whose
                # writer was already force-expired N times carries
                # attempt=N, and readers wait 2^N times longer before
                # fencing again (capped at the reservation grace) — a
                # LIVE writer whose payload writes legitimately exceed
                # the flat deadline (large batches, slow object store)
                # converges instead of being re-fenced on every attempt
                # and burning a payload write per cycle.
                eff = max(
                    dl, min(dl << min(int(r.get("attempt", 0)), 5), RESERVATION_GRACE_MS)
                )
                if seg is not None and seg[0] < emin and now - r["ts"] > eff:
                    out.add(rid)
        return out

    def _maybe_read_repair(self, scope: str, stream: str, doc: dict) -> bool:
        """Lockless precheck on an already-in-hand segments doc; only a
        stranded or deadline-stale gap takes the commit lock. Returns
        True when the visible state changed (or may have changed) since
        the caller's snapshot — whether THIS call repaired or a
        concurrent lock holder did — so callers re-read on True. Bounds
        ack-to-visibility after a writer crash to the read-repair
        deadline instead of the reservation grace: the reference acks
        an append only after every earlier append is applied
        (AppendProcessor.java:302 order guarantee), so a reader there
        never waits on a dead writer; under the split commit this
        repair is what restores that bound (SCALING.md, ack
        semantics)."""
        if not self._stranded_pending(doc) and not self._stale_gap_blockers(doc):
            return False
        path = self._stream_path(scope, stream)
        with self._commit_lock(scope, stream):
            doc = self.meta.segments_doc(scope, stream)  # re-read under lock
            blockers = self._stale_gap_blockers(doc)
            if not blockers and not self._stranded_pending(doc):
                # a concurrent lock holder repaired first: the caller's
                # in-hand doc predates that repair, so it MUST re-read —
                # True means "state changed since your snapshot", not
                # "this call wrote". Returning False here made 7 of 8
                # racing tail polls report the pre-repair tail.
                return True
            for rid in blockers:
                # force-expire: ancient ts makes every future reap (any
                # grace) treat it as dead; persists with the doc write
                # below, so even a reap blocked by a LIVE reservation
                # above leaves the marker for the next repair pass
                doc["reservations"][rid]["ts"] = -(1 << 50)
            obsolete = self._reap_reservations_locked(doc, path)
            # absorb whatever became (or already was) contiguous; writes
            # the doc (including force-expiry markers) and deletes the
            # renumbered-away old pending files
            self._publish_locked(scope, stream, doc, {}, None, None, obsolete=obsolete or ())
        return True

    def _raw_read(
        self, scope: str, stream: str, bounds: dict[int, tuple[int, int]] | None = None
    ) -> DataFrame:
        """The stream's committed files as one frame. With ``bounds``
        ({segment_id: (lo, hi)}) only the files whose manifest offset
        range meets a listed segment's ``[lo, hi)`` are read. That is
        pruning, not filtering: callers still filter on ``offset``."""
        path = self._stream_path(scope, stream)
        # lockless reader: resolve_files retries the doc→shard race so a
        # concurrent commit's shard GC can't make a segment look empty
        doc, files_by_sid = self.meta.resolve_files(scope, stream, bounds)
        if self._maybe_read_repair(scope, stream, doc):
            doc, files_by_sid = self.meta.resolve_files(scope, stream, bounds)
        manifest = [f for files in files_by_sid.values() for f in files]
        if not manifest and bounds is not None:
            # nothing in range: keep the stream's schema by reading one
            # committed file, whose rows the caller's filter drops
            manifest = next(
                (files[:1] for files in self.meta.resolve_files(scope, stream)[1].values() if files),
                [],
            )
        if not manifest:
            # empty stream: synthesize empty frame with the envelope schema
            return self.spark.createDataFrame(
                [], f"{ROUTING_KEY} string, {EVENT_TIME} timestamp, {INGEST_TIME} timestamp, {SEGMENT_ID} bigint, {OFFSET} bigint"
            )
        # manifest-based visibility: ONLY committed files are read, so
        # orphans from crashed commits can never surface duplicates
        return self.spark.read.option("basePath", path).parquet(
            *[fsio.join(path, f) for f in manifest]
        )

    def read(
        self,
        scope: str,
        stream: str,
        from_cut: StreamCut | None = None,
        to_cut: StreamCut | None = None,
    ) -> DataFrame:
        """Bounded batch read between two StreamCuts (BatchClient, R5).

        The bounds pick the files whose manifest offset range meets each
        segment's window, then become per-segment offset range
        predicates on those files. Head-clamp below
        raises TruncatedDataException like the reference reader when the
        requested start precedes the stream head.
        """
        if not self.meta.stream_exists(scope, stream):
            raise StreamNotFoundException(f"{scope}/{stream}")
        # repair BEFORE snapshotting the tail bound: the offset-range
        # filter below would otherwise exclude rows a mid-read repair
        # just made visible (the tail would be the pre-repair one)
        doc = self.meta.segments_doc(scope, stream)
        if self._maybe_read_repair(scope, stream, doc):
            doc = self.meta.segments_doc(scope, stream)
        heads = {int(k): v["head_offset"] for k, v in doc["segments"].items()}
        tails = {int(k): v["tail_offset"] for k, v in doc["segments"].items()}
        starts = dict(heads)
        if from_cut is not None and not from_cut.unbounded:
            for sid, off in from_cut.positions.items():
                if off < heads.get(sid, 0):
                    raise TruncatedDataException(
                        f"segment {sid}: requested offset {off} < head {heads.get(sid, 0)}"
                    )
                starts[sid] = off
        ends = dict(tails)
        if to_cut is not None and not to_cut.unbounded:
            for sid, off in to_cut.positions.items():
                if off > tails.get(sid, 0):
                    raise InvalidStreamCutException(f"segment {sid}: end {off} beyond tail")
                ends[sid] = off
        bounds = {
            sid: (starts.get(sid, 0), end)
            for sid, end in ends.items()
            if end > starts.get(sid, 0)
        }
        df = self._raw_read(scope, stream, bounds)
        cond = None
        for sid, (start, end) in bounds.items():
            c = (F.col(SEGMENT_ID) == sid) & (F.col(OFFSET) >= start) & (F.col(OFFSET) < end)
            cond = c if cond is None else (cond | c)
        if cond is None:
            return df.limit(0)
        return df.filter(cond)

    def fetch_event(self, scope: str, stream: str, segment_id: int, offset: int) -> DataFrame:
        """Point re-read by EventPointer (EventStreamReader.fetchEvent, R4)."""
        return self._raw_read(scope, stream, {segment_id: (offset, offset + 1)}).filter(
            (F.col(SEGMENT_ID) == segment_id) & (F.col(OFFSET) == offset)
        )

    # ---- StreamCut algebra (R5/R7/R8) ----
    def head_stream_cut(self, scope: str, stream: str) -> StreamCut:
        return StreamCut.of(self.meta.head_offsets(scope, stream))

    def tail_stream_cut(self, scope: str, stream: str) -> StreamCut:
        # tail polls are how idle-stream readers (and the streaming
        # source's pump) discover new data — run the same visibility
        # repair precheck as _raw_read so a dead writer's gap can't
        # pin the observable tail for the full reservation grace
        doc = self.meta.segments_doc(scope, stream)
        if self._maybe_read_repair(scope, stream, doc):
            doc = self.meta.segments_doc(scope, stream)
        return StreamCut.of(
            {int(k): v["tail_offset"] for k, v in doc["segments"].items()}
        )

    def get_stream_info(self, scope: str, stream: str) -> StreamInfo:
        info = self.meta.get_stream(scope, stream)
        head, tail = self.head_stream_cut(scope, stream), self.tail_stream_cut(scope, stream)
        return StreamInfo(scope, stream, info["sealed"], head, tail, head.distance_to(tail))

    def distance_between(self, scope: str, stream: str, a: StreamCut, b: StreamCut) -> int:
        return a.distance_to(b)

    def get_next_stream_cut(self, scope: str, stream: str, cut: StreamCut, distance: int) -> StreamCut:
        """Advance ~``distance`` events per segment, clamped to tail
        (BatchClientFactory.getNextStreamCut, BatchClientFactory.java:123)."""
        tails = self.meta.tail_offsets(scope, stream)
        heads = self.meta.head_offsets(scope, stream)
        out = {}
        for sid, tail in tails.items():
            head = heads.get(sid, 0)
            # UNBOUNDED (and segments the cut omits) start at the HEAD:
            # offsets below it are truncated away, and a returned cut
            # must always be readable (read() raises TruncatedData for
            # sub-head positions)
            cur = head if cut.unbounded else max(cut.offset_for(sid, head), head)
            out[sid] = min(tail, cur + distance)
        return StreamCut.of(out)

    def stream_cut_at_time(self, scope: str, stream: str, ts) -> StreamCut:
        """First offset per segment with event_time >= ts (R7).

        Replaces the reference's per-segment index-segment search
        (IndexRequestProcessor.findNearestIndexedOffset) with a
        stats-pruned parquet scan: min() over a pushed-down filter.
        Offsets cannot narrow an event-time search, so the manifest
        prunes only the files wholly below each segment's head.
        """
        segs = self.meta.get_segments(scope, stream)
        tails = {int(k): v["tail_offset"] for k, v in segs.items()}
        heads = {int(k): v["head_offset"] for k, v in segs.items()}
        df = self._raw_read(scope, stream, {sid: (h, 1 << 62) for sid, h in heads.items()})
        rows = (
            df.filter(F.col(EVENT_TIME) >= F.lit(ts))
            .groupBy(SEGMENT_ID)
            .agg(F.min(OFFSET).alias("o"))
            .collect()
        )
        found = {r[SEGMENT_ID]: r["o"] for r in rows}
        # clamp to head: after a truncate (before compaction) the raw
        # scan still surfaces sub-head rows, and a cut below the head
        # would be rejected by read()
        return StreamCut.of(
            {
                sid: max(found.get(sid, tail), heads.get(sid, 0))
                for sid, tail in tails.items()
            }
        )

    def save_stream_cut(self, scope: str, stream: str, name: str, cut: StreamCut) -> None:
        self.meta.save_streamcut(scope, stream, name, cut.to_json())

    def load_stream_cut(self, scope: str, stream: str, name: str) -> StreamCut | None:
        s = self.meta.load_streamcut(scope, stream, name)
        return StreamCut.from_json(s) if s else None

    # ================= truncation (D5/N2) =================
    def truncate_stream(self, scope: str, stream: str, cut: StreamCut) -> None:
        """Advance head offsets; physical file removal is compaction's job.

        Reference: TruncateStreamTask + SegmentApi.truncateStreamSegment.
        Readers positioned before the new head get TruncatedDataException.
        """
        with self._commit_lock(scope, stream):
            segs = self.meta.get_segments(scope, stream)
            for sid, off in cut.positions.items():
                s = segs.get(str(sid))
                if s is None:
                    continue
                if off > s["tail_offset"]:
                    raise InvalidStreamCutException(f"truncate beyond tail of segment {sid}")
                s["head_offset"] = max(s["head_offset"], off)
            self.meta.put_segments(scope, stream, segs)

    def compact_stream(self, scope: str, stream: str) -> None:
        """Physically drop truncated rows and rewrite small files.

        The lakehouse twin of SLTS defrag + garbage collection
        (ChunkedSegmentStorage / GarbageCollector.java:89): rewrite each
        live segment partition keeping rows >= head, coalesced to
        rollover-sized files.
        """
        # ONE doc read snapshots the plan: per-segment identity (manifest
        # pointer + chain + tail offset) plus heads/tails. The flip below
        # compares each segment against this snapshot, so the stale-plan
        # check is per SEGMENT, not per stream.
        doc0 = self.meta.segments_doc(scope, stream)
        planned = {
            sid: (s.get("manifest"), s.get("chain", []), s["tail_offset"])
            for sid, s in doc0["segments"].items()
        }
        heads = {int(k): v["head_offset"] for k, v in doc0["segments"].items()}
        tails = {int(k): v["tail_offset"] for k, v in doc0["segments"].items()}
        path = self._stream_path(scope, stream)
        if not fsio.isdir(path):
            return
        # only files meeting a segment's live [head, tail) are read: a
        # file wholly below a truncation head is never opened
        df = self._raw_read(scope, stream, {
            sid: (head, tails.get(sid, 0)) for sid, head in heads.items() if tails.get(sid, 0) > head
        })
        cond = None
        for sid, head in heads.items():
            c = (F.col(SEGMENT_ID) == sid) & (F.col(OFFSET) >= head) & (F.col(OFFSET) < tails.get(sid, 0))
            cond = c if cond is None else (cond | c)
        live = df.filter(cond) if cond is not None else df.limit(0)
        # manifest-safe compaction: write rewritten files NEXT TO the old
        # ones (unique names), then flip the manifest pointers in one doc
        # write — readers see each segment's old or new file set, never
        # neither. A crash before the flip leaves invisible orphans
        # (fsck reaps). The rewrite job runs OUTSIDE the commit lock (it
        # can be long); the flip section locks and applies PER-SEGMENT:
        # only segments a racing commit touched (tail/manifest moved
        # since the snapshot) abandon their rewrite — the rest flip, so
        # compaction makes progress under constant write load instead of
        # losing the whole stream's work to one hot segment (the
        # reference compacts per segment under its own container lock,
        # ChunkedSegmentStorage, for the same reason).
        tmp = f"{path}.compact.{uuid.uuid4().hex[:8]}"
        # offset order inside each rewritten file: a slice reads rows in
        # file order, and that order carries the per-key order contract
        live.repartition(SEGMENT_ID).sortWithinPartitions(SEGMENT_ID, OFFSET).write.mode(
            "overwrite").partitionBy(SEGMENT_ID).parquet(tmp)
        tag = uuid.uuid4().hex[:8]
        new_files = {
            sid: [e for e, _n in got]
            for sid, got in self._promote_files(tmp, path, f"compact-{tag}-").items()
        }
        flipped_old: list[str] = []
        abandoned: list[str] = []
        with self._commit_lock(scope, stream):
            doc = self.meta.segments_doc(scope, stream)
            ver = doc["version"]
            gc: list[tuple[str, int]] = []
            any_flip = False
            for sid_str, s in doc["segments"].items():
                current = (s.get("manifest"), s.get("chain", []), s["tail_offset"])
                if planned.get(sid_str) != current:
                    # a commit landed in THIS segment since planning: the
                    # lazy plan would drop its rows — abandon just this
                    # segment's rewrite (files become invisible orphans)
                    abandoned += [rel for rel, _lo, _hi in new_files.get(int(sid_str), [])]
                    continue
                any_flip = True
                flipped_old += self.meta.segment_files(scope, stream, sid_str, s)
                self.meta.write_segment_manifest(
                    scope, stream, sid_str, ver + 1, new_files.get(int(sid_str), [])
                )
                if "manifest" in s:
                    gc.append((sid_str, s["manifest"]))
                s.pop("chain", None)  # the rewrite folded the chain in
                s["manifest"] = ver + 1
                s["head_offset"] = max(s["head_offset"], heads.get(int(sid_str), 0))
            if any_flip:
                self.meta.put_segments_doc(scope, stream, doc, expected_version=ver)  # flip
                for sid_str, old_ver in gc:  # only after the flip is durable
                    self.meta.drop_segment_manifest(scope, stream, sid_str, old_ver)
        for rel in abandoned:
            fsio.remove(fsio.join(path, rel))
        for rel in flipped_old:  # now-invisible originals
            fsio.remove(fsio.join(path, rel))

    # ================= scaling (S4-S5) =================
    def scale_stream(
        self,
        scope: str,
        stream: str,
        seal_segments: list[int],
        new_ranges: list[tuple[float, float]],
    ) -> dict:
        """Seal segments, create successors over their key space, commit a
        new epoch (Controller.startScale / ScaleOperationTask).

        Data files don't move — only the routing function for future
        writes changes; bounded reads crossing the boundary union epochs
        via offset ranges, which the read path already does.
        """
        return self._with_quiescent_lock(
            scope, stream,
            lambda: self._scale_stream_locked(scope, stream, seal_segments, new_ranges),
        )

    def _scale_stream_locked(
        self,
        scope: str,
        stream: str,
        seal_segments: list[int],
        new_ranges: list[tuple[float, float]],
    ) -> dict:
        epochs = self.meta.get_epochs(scope, stream)
        active = epochs[-1]
        active_ids = {s["segment_id"] for s in active["segments"]}
        if not set(seal_segments) <= active_ids:
            raise InvalidStreamCutException("can only seal active segments")
        sealed_ranges = [
            (s["key_start"], s["key_end"]) for s in active["segments"] if s["segment_id"] in seal_segments
        ]
        lo, hi = min(r[0] for r in sealed_ranges), max(r[1] for r in sealed_ranges)
        if abs(sum(r[1] - r[0] for r in sealed_ranges) - (hi - lo)) > 1e-9:
            raise InvalidStreamCutException("sealed segments must cover a contiguous key range")
        if abs(sum(b - a for a, b in new_ranges) - (hi - lo)) > 1e-9 or any(
            not (lo - 1e-9 <= a < b <= hi + 1e-9) for a, b in new_ranges
        ):
            raise InvalidStreamCutException("new ranges must repartition the sealed key space")
        new_epoch_num = active["epoch"] + 1
        max_num = max(s["segment_id"] & 0xFFFFFFFF for e in epochs for s in e["segments"])
        new_segments = [
            {"segment_id": make_segment_id(new_epoch_num, max_num + 1 + i), "key_start": a, "key_end": b}
            for i, (a, b) in enumerate(sorted(new_ranges))
        ]
        carried = [s for s in active["segments"] if s["segment_id"] not in seal_segments]
        epoch = self.meta.append_epoch(scope, stream, sorted(carried + new_segments, key=lambda s: s["key_start"]))
        segs = self.meta.get_segments(scope, stream)
        for sid in seal_segments:
            segs[str(sid)]["sealed"] = True
        for s in new_segments:
            segs.setdefault(str(s["segment_id"]), {"sealed": False, "head_offset": 0, "tail_offset": 0, "event_count": 0})
        self.meta.put_segments(scope, stream, segs)
        return epoch

    def current_segments(self, scope: str, stream: str) -> list[dict]:
        """Controller.getCurrentSegments (Controller.java:305)."""
        return list(self.meta.active_epoch(scope, stream)["segments"])

    def get_epoch_segments(self, scope: str, stream: str, epoch: int) -> list[dict]:
        for e in self.meta.get_epochs(scope, stream):
            if e["epoch"] == epoch:
                return list(e["segments"])
        raise StreamNotFoundException(f"epoch {epoch}")

    def get_successors(self, scope: str, stream: str, segment_id: int) -> list[int]:
        """Successor graph query (Controller.getSuccessors, Controller.java:412):
        segments in the next epoch overlapping the sealed segment's range."""
        epochs = self.meta.get_epochs(scope, stream)
        ep = segment_epoch(segment_id)
        rng = None
        for e in epochs:
            for s in e["segments"]:
                if s["segment_id"] == segment_id:
                    rng = (s["key_start"], s["key_end"])
        if rng is None:
            return []
        for e in epochs:
            if e["epoch"] <= ep:
                continue
            ids = {s["segment_id"] for s in e["segments"]}
            if segment_id not in ids:
                return [
                    s["segment_id"]
                    for s in e["segments"]
                    if s["key_start"] < rng[1] and s["key_end"] > rng[0] and segment_epoch(s["segment_id"]) == e["epoch"]
                ]
        return []

    # ================= segment attributes (G6) =================
    # Reference: per-segment key→long attribute map updated atomically
    # with appends (contracts/SegmentApi.java:62 AttributeUpdateCollection,
    # Attributes.java:61-137; B-tree index SegmentAttributeBTreeIndex.java:81).
    # Here attributes live in the segment's entry of the segments doc, so
    # every update rides the same atomic conditional doc write as data
    # commits — atomic-with-append comes free via append_events'
    # ``attribute_updates``.

    NOT_EXISTS = None  # ReplaceIfEquals comparison value for "must be absent"

    @staticmethod
    def _apply_attribute_updates(entry: dict, updates: list[tuple]) -> None:
        """Apply [(key, kind, value, expected?)] to one segment's
        attribute map. Kinds mirror AttributeUpdateType: ``replace``,
        ``replace_if_equals`` (CAS on expected; expected None = key must
        not exist), ``accumulate`` (add to current, absent = 0),
        ``remove``. Raises BadAttributeUpdateException without applying
        ANY update (all-or-nothing, like the reference's collection)."""
        from pravega_spark.errors import BadAttributeUpdateException

        attrs = dict(entry.get("attributes", {}))
        staged = dict(attrs)
        for upd in updates:
            key, kind, value = upd[0], upd[1], upd[2]
            expected = upd[3] if len(upd) > 3 else None
            cur = staged.get(key)
            if kind == "replace":
                staged[key] = int(value)
            elif kind == "replace_if_equals":
                if cur != expected:
                    raise BadAttributeUpdateException(
                        f"attribute {key!r}: expected {expected}, found {cur}"
                    )
                staged[key] = int(value)
            elif kind == "accumulate":
                staged[key] = int(cur or 0) + int(value)
            elif kind == "remove":
                staged.pop(key, None)
            else:
                raise ValueError(f"unknown attribute update kind {kind!r}")
        entry["attributes"] = staged

    def update_attributes(
        self, scope: str, stream: str, segment_id: int, updates: list[tuple]
    ) -> dict[str, int]:
        """Atomic attribute batch on one segment
        (StreamSegmentStore.updateAttributes). ``updates`` items are
        (key, kind, value[, expected]); returns the segment's attribute
        map after the update."""
        with self._commit_lock(scope, stream):
            doc = self.meta.segments_doc(scope, stream)
            entry = doc["segments"].get(str(segment_id))
            if entry is None:
                raise StreamNotFoundException(f"segment {segment_id} of {scope}/{stream}")
            self._apply_attribute_updates(entry, updates)
            self.meta.put_segments_doc(scope, stream, doc, expected_version=doc["version"])
            return dict(entry["attributes"])

    def get_attributes(
        self, scope: str, stream: str, segment_id: int, keys: list[str] | None = None
    ) -> dict[str, int]:
        """Read a segment's attributes (SegmentApi.getAttributes)."""
        entry = self.meta.get_segments(scope, stream).get(str(segment_id))
        if entry is None:
            raise StreamNotFoundException(f"segment {segment_id} of {scope}/{stream}")
        attrs = entry.get("attributes", {})
        if keys is None:
            return dict(attrs)
        return {k: attrs[k] for k in keys if k in attrs}

    # ================= event time (T1-T3) =================
    def note_time(self, scope: str, stream: str, writer_id: str, timestamp_ms: int) -> None:
        """Writer time mark (EventStreamWriter.noteTime → Controller.noteTimestampFromWriter)."""
        self.meta.note_writer_mark(scope, stream, writer_id, timestamp_ms, self.meta.tail_offsets(scope, stream))

    def remove_writer(self, scope: str, stream: str, writer_id: str) -> None:
        self.meta.remove_writer(scope, stream, writer_id)
