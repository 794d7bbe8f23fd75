"""Streaming sink: exactly-once writes into a stream via foreachBatch.

Reference semantics reproduced (SURVEY §2.1 W1/W2):
  - durable, atomically-visible appends (StreamStore._commit_rows);
  - exactly-once across sink retries: the micro-batch ``batchId`` is the
    writer sequence number — a replayed batch is a no-op
    (AppendProcessor writer-id/event-number dedup, G1);
  - per-key order within the batch via the arrival-sequence window.

Writer identity: the reference gives every writer instance a fresh UUID
(EventStreamWriterImpl) and dedups per (writer, eventNumber). Here the
dedup key is (writer_id, batchId), so the writer_id MUST be unique per
logical query: two queries writing one stream under the same id would
silently swallow each other's batches. Callers therefore either pass an
explicit ``writer_id`` or a ``checkpoint_location`` from which a stable
id is derived (same checkpoint = same query incarnation = same batchId
sequence). Resetting/deleting a checkpoint restarts batchId at 0, so a
reset REQUIRES a new writer_id (or a fresh checkpoint path) — otherwise
every batch replays below the old high-water mark and is dropped.

Usage::

    ckpt = "/tmp/ckpt/my-sink"
    q = (df.writeStream
           .foreachBatch(write_stream_batch(store, "scope", "stream",
                                            routing_key_col="user_id",
                                            event_time_col="ts",
                                            checkpoint_location=ckpt))
           .option("checkpointLocation", ckpt)
           .start())
"""

from __future__ import annotations

import hashlib
import json
import os
from typing import Callable

from pyspark.sql import DataFrame

import pravega_spark.store as _store_mod
from pravega_spark.store import StreamStore


def writer_id_for_checkpoint(checkpoint_location: str) -> str:
    """Stable writer identity bound to a query's checkpoint location."""
    digest = hashlib.sha256(checkpoint_location.rstrip("/").encode("utf-8")).hexdigest()[:16]
    return f"sink-{digest}"


_ENVELOPE_COLS = ["routing_key", "segment_id", "offset", "event_time", "ingest_time", "payload"]


def _offsets_at(checkpoint_dir: str, batch_id: int) -> dict[str, int] | None:
    """Delegates to the ONE validated offsets-log parser
    (datasource.read_offsets_log) — three hand-rolled copies of this
    format drifted before; now they can't."""
    from pravega_spark.streaming.datasource import read_offsets_log

    try:
        return read_offsets_log(checkpoint_dir, batch_id)
    except OSError:
        return None


def _batch_bounds(source, batch_id: int):
    """(start, end) offset vectors for a micro-batch, or (None, None).

    end always comes from the offsets log; start comes from the prior
    log entry, or for batch 0 from the source's initial position (start
    cut if configured, else current stream heads — heads only advance,
    so a truncation racing the sink reads fewer rows, exactly like the
    Spark path whose files are gone)."""
    if batch_id < 0:
        return None, None
    ckpt = source.checkpoint_dir
    end = _offsets_at(ckpt, batch_id)
    if end is None:
        return None, None
    if batch_id >= 1:
        return _offsets_at(ckpt, batch_id - 1), end
    from pravega_spark.streaming.datasource import _load_heads

    try:
        opts = source._options() if hasattr(source, "_options") else {}
        if opts.get("start_cut"):
            pos = json.loads(opts["start_cut"]).get("positions", {})
            start = {str(k): int(v) for k, v in pos.items()}
        else:
            start = {
                str(k): int(v)
                for k, v in _load_heads(
                    source.store.root, source.scope, source.stream
                ).items()
            }
    except Exception:
        return None, None
    return start, end


def _slice_total(start: dict, end: dict) -> int:
    """Row count of the [start, end) offset slice — the ONE definition
    shared by the pump's size gate, the purity guard's expected value,
    and the fallback's row-count hint, so they can never drift."""
    return sum(
        int(hi) - int(start.get(sid, 0))
        for sid, hi in end.items()
        if int(hi) > int(start.get(sid, 0))
    )


def _slice_fingerprint(tbl) -> int:
    """60-bit XOR content fingerprint of an envelope arrow table, over
    the columns the copy contract actually promises (routing_key,
    event_time, payload — segment/offset are engine-assigned and
    recomputed at the destination). Must stay bit-identical to
    ``_batch_fingerprint_cols``'s Spark expression: per row,
    md5(rk_utf8 \\x1f payload \\x1f micros_utf8) first 15 hex chars as
    int, XOR-folded (order-independent, overflow-free)."""
    import hashlib

    md5 = hashlib.md5
    from_bytes = int.from_bytes
    acc = 0
    # per-record-batch materialization bounds the python-object copy to
    # one batch at a time (the arrow table can hold an entire
    # HOT_MAX_ROWS slice of large payloads)
    cols = tbl.select(["routing_key", "payload", "event_time"])
    for batch in cols.to_batches(max_chunksize=8192):
        rks = batch["routing_key"].to_pylist()
        pls = batch["payload"].to_pylist()
        micros = batch["event_time"].cast("int64").to_pylist()
        for rk, pl, us in zip(rks, pls, micros):
            data = (
                (rk or "").encode("utf-8")
                + b"\x1f"
                + (pl or b"")
                + b"\x1f"
                + (str(us) if us is not None else "").encode("utf-8")
            )
            # first 15 hex chars of the digest == top 60 bits of the first 8 bytes
            acc ^= from_bytes(md5(data).digest()[:8], "big") >> 4
    return acc


def _batch_fingerprint_cols():
    """(count, xor-fingerprint) aggregate columns for one Spark job over
    the micro-batch — the JVM twin of ``_slice_fingerprint``."""
    from pyspark.sql import functions as F

    row_bytes = F.concat(
        F.encode(F.coalesce(F.col("routing_key"), F.lit("")), "UTF-8"),
        F.lit(b"\x1f"),
        F.coalesce(F.col("payload"), F.lit(b"")),
        F.lit(b"\x1f"),
        F.encode(
            F.coalesce(F.unix_micros(F.col("event_time")).cast("string"), F.lit("")),
            "UTF-8",
        ),
    )
    h60 = F.conv(F.substring(F.md5(row_bytes), 1, 15), 16, 10).cast("long")
    return F.count(F.lit(1)).alias("n"), F.bit_xor(h60).alias("fp")


def _pump_prepare(source, bounds, total: int | None):
    """Driver-side read of the micro-batch's source slice (no commit):
    returns the validated arrow table, or None when any pump
    precondition fails. Split from the commit so the purity guard can
    verify BEFORE anything becomes visible."""
    from concurrent.futures import ThreadPoolExecutor

    from pravega_spark.streaming.datasource import _read_slice_table, plan_slices

    start, end = bounds
    if end is None or start is None:
        return None
    total = _slice_total(start, end) if total is None else total
    if total == 0 or total > _store_mod.HOT_MAX_ROWS:
        return None
    try:
        slices = plan_slices(
            source.store.root, source.scope, source.stream, start,
            dict(sorted(end.items(), key=lambda kv: int(kv[0]))),
        )
        if len(slices) > 1:
            with ThreadPoolExecutor(min(8, len(slices))) as ex:
                tabs = list(ex.map(_read_slice_table, slices))
        else:
            tabs = [_read_slice_table(slices[0])]
        tabs = [t for t in tabs if t is not None]
        if not tabs:
            return None
        import pyarrow as pa

        tbl = pa.concat_tables(tabs) if len(tabs) > 1 else tabs[0]
        if tbl.num_rows != total:
            # slice read disagrees with the offsets log (concurrent
            # truncation, half-visible compaction): never commit a
            # miscounted copy — the Spark path re-plans from the log
            return None
        return tbl
    except Exception:
        return None


def _pump_commit(store: StreamStore, scope: str, stream: str, writer_id: str,
                 batch_id: int, note_time: bool, tbl) -> bool:
    """Commit a prepared slice through the hot tier (exactly-once via
    the (writer_id, batch_id) marker)."""
    try:
        store.append_table(scope, stream, tbl, writer_id=writer_id, batch_seq=batch_id)
        if note_time:
            import pyarrow.compute as pc

            m = pc.max(tbl["event_time"]).as_py()
            if m is not None:
                store.note_time(scope, stream, writer_id, int(m.timestamp() * 1000))
        return True
    except Exception:
        # any surprise (schema drift, concurrent truncation, fs hiccup)
        # falls back to the always-correct Spark path; exactly-once
        # holds either way via the (writer_id, batch_id) marker
        return False


def _pump_batch(store: StreamStore, source, scope: str, stream: str,
                writer_id: str, batch_id: int, note_time: bool,
                bounds=None, total: int | None = None) -> bool:
    """Driver-side fast path for a pure stream-to-stream copy: re-read
    the micro-batch's slice straight from the source stream's committed
    parquet (the same ``_read_slice_table`` the executors run) and
    commit it through the hot tier — ZERO Spark jobs per trigger.

    This is the reference's pump shape — EventStreamReaderImpl.java's
    readNextEvent tail loop feeding a writer — where each micro-batch
    re-materializing itself through a cluster job would be pure
    overhead. Falls back (returns False) unless every precondition
    holds: an unreadable/multi-source offsets log, or a slice bigger
    than HOT_MAX_ROWS (oversized catch-up batches take the distributed
    path, with the slice row count passed down as a routing hint).

    Batch 0's start vector isn't in the offsets log — it is the
    source's initialOffset: the group's start cut if one was set, else
    the stream heads (datasource.PravegaStreamReader.initialOffset).
    Both are recomputable here, so a small catch-up batch pumps too.
    """
    if bounds is None:
        bounds = _batch_bounds(source, batch_id)
    tbl = _pump_prepare(source, bounds, total)
    if tbl is None:
        return False
    return _pump_commit(store, scope, stream, writer_id, batch_id, note_time, tbl)


def write_stream_batch(
    store: StreamStore,
    scope: str,
    stream: str,
    routing_key_col: str = "routing_key",
    event_time_col: str | None = None,
    writer_id: str | None = None,
    checkpoint_location: str | None = None,
    note_time: bool = False,
    passthrough_from=None,
) -> Callable[[DataFrame, int], None]:
    """See module docstring. ``passthrough_from`` (a ReaderGroup) is an
    EXPLICIT declaration that the streaming pipeline applies NO
    transformations between ``rg.read_stream()`` and this sink — a pure
    stream-to-stream copy. The sink then serves steady-state triggers
    driver-side from the source's own committed files (_pump_batch),
    skipping the per-trigger Spark job that re-materializes the batch.
    The declaration is the caller's contract: a filtered/projected
    pipeline handed here would copy unfiltered data (a projection is
    caught by the column check; a filter cannot be). Catch-up and
    oversized batches still take the distributed path.

    Runtime guard on that contract (r6, strengthened r7): on the first
    nonempty pump-eligible trigger (and a sampled trigger thereafter)
    the sink runs ONE aggregate job over the actual micro-batch — row
    count plus a 60-bit XOR content fingerprint over (routing_key,
    event_time, payload) — while the driver concurrently reads and
    fingerprints the source slice, and the pump commit is DEFERRED
    until both agree. A filtered pipeline mismatches on count; a
    count-preserving rewrite (payload/key/time mutation) mismatches on
    fingerprint — either way the sink emits a loud warning, permanently
    falls back to the Spark path for this query, and writes THIS batch
    through it too, so a misdeclared pipeline is caught before anything
    is miscopied. Cost: one verified trigger per query start (r6 ran
    three count jobs), whose wall-clock is a single pass over the
    batch — the slice read, python fingerprint fold, and r6's separate
    count all hide inside it; steady-state triggers pay zero.
    ``PRAVEGA_SPARK_PUMP_VERIFY`` tunes it: ``sampled`` (default),
    ``always``, ``never`` (trusted pipelines that cannot afford the
    verify job on any trigger)."""
    if writer_id is None:
        if checkpoint_location is None:
            raise ValueError(
                "write_stream_batch needs writer_id or checkpoint_location: "
                "the (writer_id, batchId) pair is the exactly-once dedup key, "
                "and a shared implicit default would make concurrent queries "
                "drop each other's batches"
            )
        writer_id = writer_id_for_checkpoint(checkpoint_location)
    pump_ok = (
        passthrough_from is not None
        and routing_key_col == "routing_key"
        and event_time_col in (None, "event_time")
    )
    # purity-guard state: how many nonempty triggers have been verified,
    # and whether a mismatch permanently disabled the pump for this query
    _guard = {"verified": 0, "since": 0, "disabled": False}
    _VERIFY_MODE = os.environ.get("PRAVEGA_SPARK_PUMP_VERIFY", "sampled").lower()
    _VERIFY_FIRST = 1     # content-verify this many nonempty triggers up front
    _VERIFY_EVERY = 32    # then re-verify one trigger in every this many

    def _verified_pump(batch_df: DataFrame, bounds, expected: int) -> bool:
        """Verify-then-commit: ONE (count, fingerprint) aggregate job
        over the micro-batch runs in a background thread while the
        driver reads the source slice AND fingerprints it — the Python
        md5 fold hides entirely inside the Spark job's wall-clock. The
        pump commits ONLY after both row count and content fingerprint
        match, so a misdeclared pipeline never gets a byte miscopied.
        Returns True when the slice was committed; on mismatch (or
        pump-precondition failure) returns False and the caller's
        Spark path writes the real batch."""
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(1) as ex:
            fut = ex.submit(lambda: batch_df.agg(*_batch_fingerprint_cols()).first())
            tbl = _pump_prepare(passthrough_from, bounds, expected)
            slice_fp = _slice_fingerprint(tbl) if tbl is not None else None
            try:
                row = fut.result()
                actual, batch_fp = int(row["n"]), row["fp"]
            except Exception:
                return False  # verify job failed: take the Spark path
        if actual != expected or (slice_fp is not None and batch_fp != slice_fp):
            import warnings

            _guard["disabled"] = True
            what = (
                f"micro-batch has {actual} rows but the source slice has {expected}"
                if actual != expected
                else "micro-batch content fingerprint differs from the source slice"
            )
            warnings.warn(
                f"passthrough_from purity violation: {what} — the "
                "pipeline transforms between read_stream() and the sink. "
                "Falling back to the Spark path for this query; remove "
                "passthrough_from from this sink.",
                RuntimeWarning,
                stacklevel=4,
            )
            return False
        if tbl is None:
            # counts matched but the slice read failed, so the CONTENT
            # comparison never ran: stay unverified (due again next
            # trigger) and let the Spark path write this batch
            return False
        _guard["verified"] += 1
        _guard["since"] = 0
        return _pump_commit(store, scope, stream, writer_id, batch_id_box[0],
                            note_time, tbl)

    batch_id_box = [0]  # current batch id, visible to _verified_pump

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        batch_id_box[0] = batch_id
        hint = None
        if (
            pump_ok
            and not _guard["disabled"]
            and batch_df.columns == _ENVELOPE_COLS
        ):
            bounds = _batch_bounds(passthrough_from, batch_id)
            start, end = bounds
            expected = (
                _slice_total(start, end)
                if start is not None and end is not None
                else None
            )
            # oversized slices never pump (the size gate declines), so
            # verifying them here would double-read exactly the most
            # expensive catch-up batches — defer verification to the
            # next pump-eligible trigger instead
            verifiable = (
                expected is not None and 0 < expected <= _store_mod.HOT_MAX_ROWS
            )
            due = _VERIFY_MODE not in ("never", "off", "0") and (
                _VERIFY_MODE == "always"
                or _guard["verified"] < _VERIFY_FIRST
                or _guard["since"] >= _VERIFY_EVERY
            )
            if verifiable and due:
                if _verified_pump(batch_df, bounds, expected):
                    return
            elif expected is not None:
                if verifiable:
                    _guard["since"] += 1
                if (expected == 0 or verifiable) and _pump_batch(
                    store, passthrough_from, scope, stream,
                    writer_id, batch_id, note_time,
                    bounds=bounds, total=expected,
                ):
                    return
            if expected is not None and not _guard["disabled"]:
                # pump declined but the slice size is still exact
                # knowledge: oversized batches skip the bounded probe
                # (no double scan), small ones still take it. After a
                # purity violation the slice size no longer describes
                # the (transformed) batch — no hint then.
                hint = expected
        store.write_events(
            scope,
            stream,
            batch_df,
            routing_key_col=routing_key_col,
            event_time_col=event_time_col,
            writer_id=writer_id,
            batch_seq=batch_id,
            note_time=note_time,
            row_count_hint=hint,
        )

    return _write
