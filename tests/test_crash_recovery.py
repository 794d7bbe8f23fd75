"""Commit atomicity under crashes (DurableLogTests / recovery analogue).

The manifest protocol's contract: a crash between the parquet append and
the segments-doc write leaves orphan files that NO reader sees, and a
retried commit lands the same rows exactly once. Crashes are injected by
making the metadata write raise mid-commit.
"""

import os

import pytest
from pyspark.sql import functions as F

from pravega_spark.config import ScalingPolicy, StreamConfiguration
from pravega_spark.errors import TxnFailedException


def _env(events, lo, hi):
    return events.filter(F.col("event_id").between(lo, hi)).select(
        F.col("user_id").cast("string").alias("routing_key"),
        F.col("ts").alias("event_time"),
        F.to_json(F.struct("event_id", "value")).cast("binary").alias("payload"),
    )


def _ids(df):
    return sorted(
        r[0]
        for r in df.select(
            F.get_json_object(F.col("payload").cast("string"), "$.event_id").cast("long")
        ).collect()
    )


class _Boom(RuntimeError):
    pass


def _crash_next_doc_write(store, monkeypatch, skip=0):
    """Arm a one-shot crash on a segments-doc write, after letting
    ``skip`` writes through. The r9 hot append commits in two doc
    writes (offset reservation, then the publish/visibility flip) —
    ``skip=1`` crashes the flip, the window where payload files are
    already on disk but invisible."""
    real = store.meta.put_segments_doc
    state = {"skip": skip, "armed": True}

    def crashing(scope, stream, doc, expected_version=None):
        if state["armed"]:
            if state["skip"] > 0:
                state["skip"] -= 1
            else:
                state["armed"] = False
                raise _Boom("crash before visibility flip")
        return real(scope, stream, doc, expected_version=expected_version)

    monkeypatch.setattr(store.meta, "put_segments_doc", crashing)


def _expire_reservations(monkeypatch):
    """Treat every reservation not held by a live publisher as expired
    (grace < 0), so the next lock holder repairs the crashed writer's
    gap immediately instead of after the real 30 s grace."""
    import pravega_spark.store as store_mod

    monkeypatch.setattr(store_mod, "RESERVATION_GRACE_MS", -1)


def test_crash_between_append_and_manifest_is_invisible_and_retryable(store, events, monkeypatch):
    store.create_scope("s")
    store.create_stream("s", "ev", StreamConfiguration(scaling=ScalingPolicy.fixed(4)))
    store.write_events("s", "ev", _env(events, 0, 49))
    assert store.read("s", "ev").count() == 50

    _crash_next_doc_write(store, monkeypatch, skip=1)  # crash the publish flip
    with pytest.raises(_Boom):
        store.write_events("s", "ev", _env(events, 50, 79))
    # orphan parquet files exist, but readers see only the manifest
    assert store.read("s", "ev").count() == 50
    _expire_reservations(monkeypatch)  # crashed writer's reservation
    orphans = store.fsck_stream("s", "ev")
    assert orphans  # the crashed batch's files were on disk

    # retry commits exactly once — same offsets, no duplicates
    store.write_events("s", "ev", _env(events, 50, 79))
    assert _ids(store.read("s", "ev")) == list(range(80))


def test_crashed_retry_without_fsck_never_duplicates(store, events, monkeypatch):
    """Even with orphans still on disk, a retry cannot double-count."""
    store.create_scope("s")
    store.create_stream("s", "ev", StreamConfiguration(scaling=ScalingPolicy.fixed(2)))
    _crash_next_doc_write(store, monkeypatch, skip=1)  # crash the publish flip
    with pytest.raises(_Boom):
        store.write_events("s", "ev", _env(events, 0, 99))
    _expire_reservations(monkeypatch)  # retry's reserve reaps the gap inline
    store.write_events("s", "ev", _env(events, 0, 99))  # no fsck first
    assert _ids(store.read("s", "ev")) == list(range(100))
    assert store.fsck_stream("s", "ev")  # orphans reaped afterwards


def test_txn_commit_crash_then_retry_applies_once(store, events, monkeypatch):
    store.create_scope("s")
    store.create_stream("s", "ev", StreamConfiguration(scaling=ScalingPolicy.fixed(2)))
    txn = store.begin_txn("s", "ev")
    txn.write_events(_env(events, 0, 59))

    # crash AFTER data+marker commit, before the txn status flip
    real = store.meta.put_txn_doc
    state = {"armed": True}

    def crashing(scope, stream, doc):
        if state["armed"] and any(t.get("status") == "COMMITTED" for t in doc.values()):
            state["armed"] = False
            raise _Boom("crash before txn status flip")
        return real(scope, stream, doc)

    monkeypatch.setattr(store.meta, "put_txn_doc", crashing)
    with pytest.raises(_Boom):
        txn.commit()
    # data IS committed (marker landed with it); the txn doc shows the
    # r6 point-of-no-return state (OPEN flipped to COMMITTING before
    # the data phase)
    assert store.read("s", "ev").count() == 60
    assert txn.status() == "COMMITTING"
    # retried commit sees the marker: finalizes status, no double-apply
    txn.commit()
    assert txn.status() == "COMMITTED"
    assert _ids(store.read("s", "ev")) == list(range(60))


def test_writer_seq_dedup_survives_crash(store, events, monkeypatch):
    """(writer_id, batch_seq) marker commits atomically with the data, so
    a crashed-then-retried sink batch is deduped, not replayed."""
    store.create_scope("s")
    store.create_stream("s", "ev", StreamConfiguration(scaling=ScalingPolicy.fixed(2)))
    store.write_events("s", "ev", _env(events, 0, 29), writer_id="w1", batch_seq=0)
    # replay of the same batch_seq is a no-op
    store.write_events("s", "ev", _env(events, 0, 29), writer_id="w1", batch_seq=0)
    assert store.read("s", "ev").count() == 30

    _crash_next_doc_write(store, monkeypatch)
    with pytest.raises(_Boom):
        store.write_events("s", "ev", _env(events, 30, 59), writer_id="w1", batch_seq=1)
    # neither data nor marker landed — retry applies exactly once
    store.write_events("s", "ev", _env(events, 30, 59), writer_id="w1", batch_seq=1)
    store.write_events("s", "ev", _env(events, 30, 59), writer_id="w1", batch_seq=1)
    assert _ids(store.read("s", "ev")) == list(range(60))


def test_compaction_preserves_visibility_and_reaps(store, events):
    store.create_scope("s")
    store.create_stream("s", "ev", StreamConfiguration(scaling=ScalingPolicy.fixed(2)))
    for i in range(3):  # several commits -> several files per segment
        store.write_events("s", "ev", _env(events, i * 20, i * 20 + 19))
    # get_next_stream_cut advances each segment by up to `distance`
    cut = store.get_next_stream_cut("s", "ev", store.head_stream_cut("s", "ev"), 10)
    truncated = store.head_stream_cut("s", "ev").distance_to(cut)
    store.truncate_stream("s", "ev", cut)
    before = _ids(store.read("s", "ev"))
    assert len(before) == 60 - truncated
    store.compact_stream("s", "ev")
    assert _ids(store.read("s", "ev")) == before
    assert store.fsck_stream("s", "ev") == []  # nothing dangling


# ---------------- round 5: streaming sink crash (VERDICT r4 item 7) ----


def _run_stream_once(store, rg, sink_fn, n_target, cap=None, timeout_s=120):
    """Start the copy query; return (query_exception_or_None)."""
    import time

    reader = rg.read_stream(max_events_per_trigger=cap) if cap else rg.read_stream()
    q = (
        reader.writeStream.foreachBatch(sink_fn)
        .option("checkpointLocation", rg.checkpoint_dir)
        .trigger(processingTime="0 seconds")
        .start()
    )
    deadline = time.time() + timeout_s
    exc = None
    try:
        while time.time() < deadline:
            exc = q.exception()
            if exc is not None:
                break
            if sum(store.meta.tail_offsets("s", "dst").values()) >= n_target:
                break
            time.sleep(0.1)
    finally:
        try:
            q.stop()
            q.awaitTermination(30)
        except Exception as stop_exc:  # stop() re-raises a failed query
            if exc is None:
                exc = stop_exc
    return exc


def _mk_src_dst(store, events, n=120):
    from pravega_spark.sources import load_table  # noqa: F401 (fixture supplies events)

    store.create_scope("s")
    store.create_stream("s", "src", StreamConfiguration(scaling=ScalingPolicy.fixed(4)))
    store.create_stream("s", "dst", StreamConfiguration(scaling=ScalingPolicy.fixed(4)))
    store.write_events("s", "src", _env(events, 0, n - 1))
    return n


def test_streaming_sink_crash_probe_path_replays_exactly_once(store, events, monkeypatch):
    """Crash between the hot parquet write and the manifest flip INSIDE a
    streaming foreachBatch commit (probe-routed sink): the restarted
    query replays the same batchId onto the same offsets, fsck reaps the
    orphans, and nothing duplicates."""
    from pravega_spark.streaming import ReaderGroup, write_stream_batch

    n = _mk_src_dst(store, events)
    rg = ReaderGroup(store, "s", "src", "g-crashp")
    sink = write_stream_batch(store, "s", "dst", writer_id="w-crashp")
    _crash_next_doc_write(store, monkeypatch, skip=1)  # crash the publish flip
    exc = _run_stream_once(store, rg, sink, n)
    assert exc is not None, "armed crash must fail the query"
    # the crashed batch is invisible; its files are orphans
    assert store.read("s", "dst").count() == 0
    _expire_reservations(monkeypatch)  # crashed trigger's reservation
    assert store.fsck_stream("s", "dst")
    # restart: same checkpoint -> same batchId replays -> exactly once
    exc = _run_stream_once(store, rg, sink, n)
    assert exc is None
    assert _ids(store.read("s", "dst")) == list(range(n))
    assert store.fsck_stream("s", "dst") == []


def test_streaming_sink_crash_pump_path_replays_exactly_once(store, events, monkeypatch):
    """Same crash injected under the PUMP fast path (passthrough sink):
    append_table's manifest flip carries the same atomicity, so the
    restarted query replays the pumped batch exactly once."""
    import pravega_spark.streaming.sink as sink_mod
    from pravega_spark.streaming import ReaderGroup, write_stream_batch

    store.create_scope("s")
    store.create_stream("s", "src", StreamConfiguration(scaling=ScalingPolicy.fixed(4)))
    store.create_stream("s", "dst", StreamConfiguration(scaling=ScalingPolicy.fixed(4)))
    n = 120
    rg = ReaderGroup(store, "s", "src", "g-crashq")
    sink = write_stream_batch(store, "s", "dst", writer_id="w-crashq",
                              passthrough_from=rg)
    pump_calls = []
    orig_pump = sink_mod._pump_batch

    def spy(*a, **k):
        r = orig_pump(*a, **k)
        pump_calls.append(r)
        return r

    monkeypatch.setattr(sink_mod, "_pump_batch", spy)
    # seed + drain so the capped query rate-limits from committed
    # positions (a fresh source plans one uncapped catch-up batch, which
    # the pump rightly declines); then arm the crash for a pumped batch
    store.write_events("s", "src", _env(events, 0, 0))
    rg.drain(sink)
    store.write_events("s", "src", _env(events, 1, n - 1))
    cap = max(1, n // 8)
    _crash_next_doc_write(store, monkeypatch, skip=1)  # crash a publish flip
    # the crashed commit leaves an open reservation; expiring it lets the
    # fallback path's own reserve reap the gap inline instead of leaving
    # the fallback's rows pending behind it for the real 30 s grace
    _expire_reservations(monkeypatch)
    exc = _run_stream_once(store, rg, sink, n, cap=cap)
    # the pump wraps commit errors into a fallback write_events attempt,
    # which ALSO hits the armed crash? no — one-shot: the pump's
    # append_table crashed, the fallback write_events then commits.
    # Either way the query may or may not fail; completeness + no-dupes
    # is the contract:
    _run_stream_once(store, rg, sink, n, cap=cap)
    assert _ids(store.read("s", "dst")) == list(range(n))
    assert True in pump_calls, "pump never engaged"
    store.fsck_stream("s", "dst")  # reap any crash orphans
    assert _ids(store.read("s", "dst")) == list(range(n))


def test_kvt_arrow_compaction_crash_before_the_meta_flip(tmp_path, monkeypatch):
    """A driver-side compaction writes its bucket files, then flips the
    meta doc. A crash between the two leaves the new files invisible:
    readers see the pre-compaction log, fsck reaps exactly those files,
    and a retried compaction lands."""
    from pravega_spark import fsio
    from pravega_spark.config import KeyValueTableConfiguration
    from pravega_spark.kvt import KeyValueTableManager

    root = str(tmp_path)
    t = KeyValueTableManager(None, root).create_key_value_table(
        "s", "t", KeyValueTableConfiguration(partition_count=4))
    t.update([(f"k{i:02d}", "", "a") for i in range(20)], ["put"] * 20)
    t.update([(f"k{i:02d}", "", "b") for i in range(0, 20, 2)], ["put"] * 10)
    t.update([(f"k{i:02d}", "", None) for i in range(0, 20, 5)], ["remove"] * 4)
    files, snap = list(t._files), t.snapshot_arrow()
    delta = t.entry_delta_iterator_arrow(0)

    written = []
    write_table = fsio.parquet_write_table
    monkeypatch.setattr(fsio, "parquet_write_table",
                        lambda table, path: written.append(path) or write_table(table, path))
    write_json = fsio.write_json_atomic
    state = {"armed": True}

    def crashing(path, doc):
        if state["armed"] and path == t.meta_path:
            state["armed"] = False
            raise _Boom("crash before the compaction's meta flip")
        return write_json(path, doc)

    monkeypatch.setattr(fsio, "write_json_atomic", crashing)
    with pytest.raises(_Boom):
        t.compact()
    assert written and all("compact-" in p for p in written)
    assert all(os.path.exists(p) for p in written)

    other = KeyValueTableManager(None, root).open("s", "t")
    for reader in (t, other):
        assert reader.snapshot_arrow().equals(snap)
        assert reader.entry_delta_iterator_arrow(0).equals(delta)
        assert reader.get("k02") == ("b", 2) and reader.get("k05") is None
    assert other._files == files
    assert all(os.path.exists(os.path.join(t.data_path, rel)) for rel in files)

    reaped = t.fsck()
    assert sorted(os.path.join(t.data_path, rel) for rel in reaped) == sorted(written)
    assert not any(os.path.exists(p) for p in written)
    assert t.snapshot_arrow().equals(snap)
    t.compact()  # the retry lands
    assert t.snapshot_arrow().equals(snap) and t.fsck() == []
    assert not set(t._files) & set(files)
