"""Regression tests for concurrency races in the commit/maintenance
paths (lock reaping, fsck vs concurrent commits, compaction vs commit
ordering, dangling manifest shards, fenced KVT meta writes).

Reference bar: the segment store serializes maintenance with appends
(AppendProcessor / StorageWriter) and pairs every metadata update with
a compare-version (PersistentStreamBase) — these tests pin the same
guarantees onto the manifest protocol.
"""

import json
import threading
import time

import pytest

from pravega_spark import fsio
from pravega_spark.errors import ConcurrentModificationException
from pravega_spark.store import StreamStore


def _mk_stream(spark, tmp_path, name="s"):
    st = StreamStore(spark, str(tmp_path / "root"))
    st.create_scope("sc")
    st.create_stream("sc", name)
    return st


# ---------------- fsio lock semantics ----------------

def test_stale_lock_reaped(tmp_path):
    path = str(tmp_path / "l.lock")
    fsio.write_json_atomic(path, {"token": "dead", "expiry_ms": 0})
    t0 = time.time()
    tok = fsio.acquire_lock(path, timeout_ms=5_000)
    assert time.time() - t0 < 2
    fsio.release_lock(path, tok)
    assert not fsio.exists(path)


def test_reap_restores_displaced_fresh_lock(tmp_path, monkeypatch):
    """A contender that read a stale doc must NOT kill a fresh lock
    created between its staleness read and its reap — the rename-aside
    verify detects the displacement and restores the fresh doc."""
    path = str(tmp_path / "l.lock")
    fsio.write_json_atomic(path, {"token": "dead", "expiry_ms": 0})

    real_move = fsio.move
    swapped = {}

    def racing_move(src, dst):
        # just before OUR reap rename: another contender reaps the stale
        # lock and re-creates a FRESH one (the interleaving from the race)
        if src == path and not swapped:
            swapped["x"] = True
            fsio.remove(path)
            fsio.write_json_atomic(
                path, {"token": "fresh", "expiry_ms": int(time.time() * 1000) + 60_000}
            )
        real_move(src, dst)

    monkeypatch.setattr(fsio, "move", racing_move)
    with pytest.raises(TimeoutError):
        # we must not steal the fresh holder's lock: acquisition times out
        fsio.acquire_lock(path, timeout_ms=700)
    doc = fsio.read_json(path, None)
    assert doc is not None and doc["token"] == "fresh"


def test_heartbeat_keeps_long_critical_section_alive(tmp_path):
    path = str(tmp_path / "l.lock")
    entered = threading.Event()
    release = threading.Event()

    def holder():
        with fsio.locked(path, lease_ms=400):
            entered.set()
            release.wait(5)

    t = threading.Thread(target=holder)
    t.start()
    assert entered.wait(5)
    time.sleep(1.2)  # 3× the lease; heartbeat must have renewed it
    with pytest.raises(TimeoutError):
        fsio.acquire_lock(path, lease_ms=400, timeout_ms=300)
    release.set()
    t.join(5)
    tok = fsio.acquire_lock(path, timeout_ms=2_000)  # released cleanly
    fsio.release_lock(path, tok)


def test_lock_contention_never_sees_torn_doc(tmp_path):
    """create_exclusive publishes the lock doc atomically WITH content
    (write-then-link): under heavy contention no contender may crash on
    a half-created (empty) doc, and the lock still mutually excludes."""
    path = str(tmp_path / "l.lock")
    hits = []
    errors = []

    def contender(idx):
        try:
            for _ in range(15):
                with fsio.locked(path, lease_ms=2_000, timeout_ms=30_000):
                    hits.append(idx)  # GIL-atomic append; lock serializes bodies
        except Exception as e:  # JSONDecodeError was the historical failure
            errors.append(e)

    threads = [threading.Thread(target=contender, args=(i,)) for i in range(6)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    assert len(hits) == 6 * 15


# ---------------- stream fsck / compaction ----------------

def test_fsck_bumps_version_to_fence_staged_compaction(spark, tmp_path):
    st = _mk_stream(spark, tmp_path)
    st.append_events("sc", "s", [{"routing_key": "a", "v": 1}, {"routing_key": "b", "v": 2}])
    ver0 = st.meta.segments_doc("sc", "s")["version"]
    # plant an orphan that looks like a compaction's staged (pre-flip) file
    orphan = fsio.join(st._stream_path("sc", "s"), "segment_id=0", "compact-zz-x.parquet")
    fsio.write_bytes(orphan, b"junk")
    reaped = st.fsck_stream("sc", "s")
    assert any("compact-zz" in r for r in reaped)
    # version bumped: a compaction staged before the reap now fails its
    # conditional flip instead of publishing a manifest of deleted files
    assert st.meta.segments_doc("sc", "s")["version"] == ver0 + 1
    assert st.read("sc", "s").count() == 2  # committed data untouched


def test_compact_abandons_when_commit_races_planning(spark, tmp_path):
    """A commit landing between compaction's version capture and its
    flip must never be dropped: the conditional flip aborts instead."""
    st = _mk_stream(spark, tmp_path)
    st.append_events("sc", "s", [{"routing_key": "a", "v": 1}])
    real_raw = st._raw_read
    raced = {}

    def racing_raw(scope, stream, bounds=None):
        # fires AFTER compaction's plan snapshot, BEFORE its rewrite
        if not raced:
            raced["x"] = True
            st.append_events(scope, stream, [{"routing_key": "b", "v": 2}])
        return real_raw(scope, stream, bounds)

    st._raw_read = racing_raw
    st.compact_stream("sc", "s")
    st._raw_read = real_raw
    rows = {r["v"] for r in st.read("sc", "s").select("v").collect()}
    assert rows == {1, 2}  # the racing commit survived


def test_compact_flips_untouched_segments_despite_racing_commit(spark, tmp_path):
    """Per-segment flip tolerance: a racing commit abandons only ITS
    segment's rewrite — the rest of the stream still compacts, so
    compaction makes progress under constant write load."""
    from pravega_spark.config import ScalingPolicy, StreamConfiguration
    from pravega_spark.hashing import segment_for_key_py

    st = StreamStore(spark, str(tmp_path / "root"))
    st.create_scope("sc")
    st.create_stream("sc", "s", StreamConfiguration(scaling=ScalingPolicy.fixed(4)))
    ranges = st.meta.active_ranges("sc", "s")
    # find keys landing in two DIFFERENT segments
    keys_by_seg = {}
    for i in range(200):
        keys_by_seg.setdefault(segment_for_key_py(f"k{i}", ranges), f"k{i}")
        if len(keys_by_seg) >= 2:
            break
    (sid_a, key_a), (sid_b, key_b) = list(keys_by_seg.items())[:2]
    st.append_events("sc", "s", [{"routing_key": key_a, "v": 1}, {"routing_key": key_b, "v": 2}])
    real_raw = st._raw_read
    raced = {}

    def racing_raw(scope, stream, bounds=None):
        # fires AFTER compaction's plan snapshot, BEFORE its rewrite
        if not raced:
            raced["x"] = True
            st.append_events(scope, stream, [{"routing_key": key_b, "v": 3}])
        return real_raw(scope, stream, bounds)

    st._raw_read = racing_raw
    st.compact_stream("sc", "s")
    st._raw_read = real_raw
    rows = {r["v"] for r in st.read("sc", "s").select("v").collect()}
    assert rows == {1, 2, 3}  # racing commit survived
    segs = st.meta.get_segments("sc", "s")
    # untouched segment flipped to its compacted file set
    files_a = st.meta.segment_files("sc", "s", str(sid_a), segs[str(sid_a)])
    assert files_a and all("compact-" in f for f in files_a)
    # raced segment kept its original (un-compacted) commit files
    files_b = st.meta.segment_files("sc", "s", str(sid_b), segs[str(sid_b)])
    assert files_b and not any("compact-" in f for f in files_b)


def test_dangling_manifest_shard_raises_not_empty(spark, tmp_path, monkeypatch):
    """A manifest pointer whose snapshot shard is gone must fail loudly —
    a silent empty-segment read would skip committed events. CHAIN_MAX=0
    forces the commit to fold its chain into a snapshot shard (r9:
    ordinary commits keep file names inline in the doc)."""
    import pravega_spark.store as store_mod

    monkeypatch.setattr(store_mod, "CHAIN_MAX", 0)
    st = _mk_stream(spark, tmp_path)
    st.append_events("sc", "s", [{"routing_key": "a", "v": 1}])
    doc = st.meta.segments_doc("sc", "s")
    sid, entry = next((k, v) for k, v in doc["segments"].items() if "manifest" in v)
    fsio.remove(st.meta._manifest_path("sc", "s", sid, entry["manifest"]))
    with pytest.raises(ConcurrentModificationException):
        st.read("sc", "s").count()


# ---------------- KVT ----------------

def test_kvt_fsck_sees_other_instances_commits(spark, tmp_path):
    from pravega_spark.kvt import KeyValueTableManager

    mgr = KeyValueTableManager(spark, str(tmp_path / "root"))
    a = mgr.create_key_value_table("sc", "t")
    a.put("k1", "v1")
    b = mgr.open("sc", "t")  # b caches the current manifest
    a.put("k2", "v2")  # a commits AFTER b's cache was taken
    assert b.fsck() == []  # stale cache must not reap a's live files
    assert b.get("k2") == ("v2", 2)


def test_kvt_fenced_meta_write_raises(spark, tmp_path):
    from pravega_spark.kvt import KeyValueTableManager

    mgr = KeyValueTableManager(spark, str(tmp_path / "root"))
    a = mgr.create_key_value_table("sc", "t")
    b = mgr.open("sc", "t")
    a.put("k", "v-a")  # bumps the meta doc version
    # b now plays a fenced-out holder: stale version, unconditional save
    # would clobber a's manifest — the conditional write must refuse
    with pytest.raises(ConcurrentModificationException):
        b._save_meta()
    assert a.get("k") == ("v-a", 1)
