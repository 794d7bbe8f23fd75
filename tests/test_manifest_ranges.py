"""Offset-range manifest entries: every committed file is recorded as
``[name, lo, hi]``, and readers open only the files whose range meets
the offsets they read.

Pruning is an optimisation, never the correctness boundary: each test
compares the pruned reads (``read``, ``fetch_event`` and a tail slice of
the streaming source) with a read of the segment's FULL file list, and
checks every recorded range against the offsets the file really holds.
"""

import pyarrow.compute as pc
import pytest
from pyspark.sql import functions as F

import pravega_spark.fsio as fsio
import pravega_spark.store as store_mod
from pravega_spark.config import ScalingPolicy, StreamConfiguration
from pravega_spark.metadata import entries_in_range
from pravega_spark.store import StreamStore
from pravega_spark.streamcut import StreamCut
from pravega_spark.streaming.datasource import _read_slice_table, plan_slices

COLS = ["segment_id", "offset", "routing_key", "v"]


def _mk(store, n_segments=2):
    store.create_scope("s")
    store.create_stream(
        "s", "ev", StreamConfiguration(scaling=ScalingPolicy.fixed(n_segments))
    )


def _events(tag, n):
    return [{"routing_key": f"{tag}-{i % 5}", "v": f"{tag}{i}"} for i in range(n)]


def _frame(spark, tag, n):
    return spark.createDataFrame(
        [(e["routing_key"], e["v"]) for e in _events(tag, n)], "routing_key string, v string"
    )


def _entries(store):
    doc = store.meta.segments_doc("s", "ev")
    return doc, {
        int(sid): store.meta.segment_entries("s", "ev", sid, s)
        for sid, s in doc["segments"].items()
    }


def _check_ranges(store):
    """Each entry's [lo, hi) is exactly the offsets its file holds."""
    path = store._stream_path("s", "ev")
    _doc, by_sid = _entries(store)
    for sid, entries in by_sid.items():
        for name, lo, hi in entries:
            offs = fsio.parquet_read_table(fsio.join(path, name))["offset"]
            mm = pc.min_max(offs)
            assert (lo, hi) == (mm["min"].as_py(), mm["max"].as_py() + 1), (sid, name)


def _full(spark, store, sid, lo, hi):
    """Rows of [lo, hi) in one segment, read from ALL its files."""
    path = store._stream_path("s", "ev")
    doc = store.meta.segments_doc("s", "ev")
    files = store.meta.segment_files("s", "ev", str(sid), doc["segments"][str(sid)])
    df = spark.read.option("basePath", path).parquet(*[fsio.join(path, f) for f in files])
    return sorted(
        tuple(r) for r in df.filter(
            (F.col("segment_id") == sid) & (F.col("offset") >= lo) & (F.col("offset") < hi)
        ).select(*COLS).collect()
    )


def _check_reads(spark, store):
    """Pruned read / fetch_event / tail slice == full-file-list read."""
    _check_ranges(store)
    doc, by_sid = _entries(store)
    segs = doc["segments"]
    heads = {int(k): v["head_offset"] for k, v in segs.items()}
    tails = {int(k): v["tail_offset"] for k, v in segs.items()}
    # whole stream, then a window in the middle of every segment
    windows = [(heads, tails)]
    windows.append((
        {sid: heads[sid] + (tails[sid] - heads[sid]) // 3 for sid in tails},
        {sid: heads[sid] + 2 * (tails[sid] - heads[sid]) // 3 + 1 for sid in tails},
    ))
    for lo_cut, hi_cut in windows:
        hi_cut = {sid: min(v, tails[sid]) for sid, v in hi_cut.items()}
        got = sorted(
            tuple(r) for r in store.read(
                "s", "ev", StreamCut.of(lo_cut), StreamCut.of(hi_cut)
            ).select(*COLS).collect()
        )
        want = sorted(
            row for sid in tails for row in _full(spark, store, sid, lo_cut[sid], hi_cut[sid])
        )
        assert got == want and len(want) == sum(hi_cut[s] - lo_cut[s] for s in tails)
    for sid in tails:
        for off in {heads[sid], (heads[sid] + tails[sid]) // 2, tails[sid] - 1}:
            if off < heads[sid]:
                continue
            got = [tuple(r) for r in store.fetch_event("s", "ev", sid, off).select(*COLS).collect()]
            assert got == _full(spark, store, sid, off, off + 1) and len(got) == 1
    # tail slice of the streaming source: the last few offsets per segment
    start = {str(sid): max(heads[sid], tails[sid] - 3) for sid in tails}
    end = {str(sid): tails[sid] for sid in tails}
    for sl in plan_slices(store.root, "s", "ev", start, end):
        want_files = entries_in_range(by_sid[sl.segment_id], sl.start, sl.end)
        assert sl.files == want_files
        tbl = _read_slice_table(sl)
        got = sorted(zip(*(tbl[c].to_pylist() for c in ("segment_id", "offset", "routing_key"))))
        want = [r[:3] for r in _full(spark, store, sl.segment_id, sl.start, sl.end)]
        assert got == want and len(got) == sl.end - sl.start


def test_pruned_reads_equal_full_reads_across_writers(spark, store, monkeypatch):
    """Hot commits, distributed commits, a txn commit, chain folds into a
    snapshot shard (more than CHAIN_MAX commits) and compaction all
    record exact ranges, and every pruned read equals the full read."""
    monkeypatch.setattr(store_mod, "CHAIN_MAX", 3)
    _mk(store)
    for b in range(3):  # hot tier
        store.append_events("s", "ev", _events(f"h{b}", 7), writer_id="w", batch_seq=b)
    _check_reads(spark, store)
    # a window no file meets still reads with the stream's columns
    tail = store.tail_stream_cut("s", "ev")
    empty = store.read("s", "ev", tail, tail)
    assert "v" in empty.columns and empty.count() == 0

    hot_max = store_mod.HOT_MAX_EST_BYTES
    monkeypatch.setattr(store_mod, "HOT_MAX_EST_BYTES", 0)  # distributed tier
    store.write_events("s", "ev", _frame(spark, "d", 40).repartition(3))
    txn = store.begin_txn("s", "ev")
    txn.write_events(_frame(spark, "t", 20))
    txn.commit()
    _check_reads(spark, store)

    monkeypatch.setattr(store_mod, "HOT_MAX_EST_BYTES", hot_max)
    for b in range(3, 8):  # enough hot commits to fold each chain again
        store.append_events("s", "ev", _events(f"h{b}", 5), writer_id="w", batch_seq=b)
    doc = store.meta.segments_doc("s", "ev")
    assert all("manifest" in s for s in doc["segments"].values())
    _check_reads(spark, store)

    tails = store.meta.tail_offsets("s", "ev")
    store.truncate_stream("s", "ev", StreamCut.of({sid: t // 2 for sid, t in tails.items()}))
    store.compact_stream("s", "ev")
    doc = store.meta.segments_doc("s", "ev")
    assert all(not s.get("chain") for s in doc["segments"].values())
    _check_reads(spark, store)
    assert store.fsck_stream("s", "ev") == []


def test_reap_renumbered_pending_entry_stays_readable(spark, tmp_path, monkeypatch):
    """A writer dies between reserve and publish; a later commit pends
    above its gap. The repair renumbers that pending commit down by the
    gap, and its entry's range must move with the rows: a stale range
    would prune the renumbered rows out of every read."""
    root = str(tmp_path / "st")
    store = StreamStore(None, root)
    _mk(store, n_segments=1)
    store.append_events("s", "ev", _events("a", 4), writer_id="W0", batch_seq=0)

    armed = {"on": True}
    orig = StreamStore._write_hot_batch

    def crashing(self, tbl, seg_arr, bases, path, tag):
        if armed["on"]:
            armed["on"] = False
            raise RuntimeError("died mid-payload")
        return orig(self, tbl, seg_arr, bases, path, tag)

    monkeypatch.setattr(StreamStore, "_write_hot_batch", crashing)
    monkeypatch.setattr(store_mod, "READ_REPAIR_DEADLINE_MS", 600_000)
    with pytest.raises(RuntimeError):
        store.append_events("s", "ev", _events("dead", 5), writer_id="A", batch_seq=0)
    store.append_events("s", "ev", _events("b", 3), writer_id="B", batch_seq=0)
    doc = store.meta.segments_doc("s", "ev")
    [pending] = doc["pending"]["0"]
    assert [e[1:] for e in pending["files"]] == [[9, 12]]

    monkeypatch.setattr(store_mod, "READ_REPAIR_DEADLINE_MS", 0)
    assert store.tail_stream_cut("s", "ev").positions == {0: 7}
    _doc, by_sid = _entries(store)
    assert [e[1:] for e in by_sid[0]] == [[0, 4], [4, 7]]
    [sl] = plan_slices(root, "s", "ev", {"0": 4}, {"0": 7})
    assert sl.files == [by_sid[0][1][0]]
    assert _read_slice_table(sl)["routing_key"].to_pylist() == ["b-0", "b-1", "b-2"]
    reader = StreamStore(spark, root)
    assert reader.read("s", "ev", StreamCut.of({0: 4})).count() == 3
    assert [r["v"] for r in reader.fetch_event("s", "ev", 0, 6).collect()] == ["b2"]
    _check_reads(spark, reader)


def test_slice_files_hold_only_intersecting_entries(tmp_path):
    """A tail slice over a long history carries only the files whose
    range meets [start, end) — not the segment's whole file list."""
    root = str(tmp_path / "st")
    store = StreamStore(None, root)
    _mk(store, n_segments=1)
    for b in range(40):
        store.append_events("s", "ev", _events(f"x{b}", 3), writer_id="w", batch_seq=b)
    _doc, by_sid = _entries(store)
    assert len(by_sid[0]) == 40
    for lo, hi, n_files in ((117, 120, 1), (115, 120, 2), (0, 120, 40), (3, 6, 1), (2, 7, 3)):
        [sl] = plan_slices(root, "s", "ev", {"0": lo}, {"0": hi})
        names = [e[0] for e in by_sid[0] if e[1] < hi and e[2] > lo]
        assert sl.files == names and len(names) == n_files
        assert _read_slice_table(sl)["offset"].to_pylist() == list(range(lo, hi))


def test_entries_in_range_is_half_open():
    entries = [["a", 0, 5], ["b", 5, 10], ["c", 10, 12]]
    assert entries_in_range(entries, 5, 10) == ["b"]
    assert entries_in_range(entries, 4, 6) == ["a", "b"]
    assert entries_in_range(entries, 9, 11) == ["b", "c"]
    assert entries_in_range(entries, 12, 20) == []
    assert entries_in_range(entries, 3, 3) == []


def test_compaction_never_opens_files_below_the_head(spark, store, monkeypatch):
    """After a truncate past whole files, compaction's live-row scan
    reads only the files meeting each segment's [head, tail), and the
    rewritten rows are exactly the live rows read before it."""
    from pyspark.sql.readwriter import DataFrameReader

    _mk(store, n_segments=1)
    for b in range(6):
        store.append_events("s", "ev", _events(f"t{b}", 5), writer_id="w", batch_seq=b)
    _doc, by_sid = _entries(store)
    store.truncate_stream("s", "ev", StreamCut.of({0: 12}))
    before = sorted(tuple(r) for r in store.read("s", "ev").select(*COLS).collect())
    assert [r[1] for r in before] == list(range(12, 30))

    opened = []
    parquet = DataFrameReader.parquet
    monkeypatch.setattr(DataFrameReader, "parquet",
                        lambda self, *paths, **kw: opened.extend(paths) or parquet(self, *paths, **kw))
    store.compact_stream("s", "ev")
    below = [name for name, _lo, hi in by_sid[0] if hi <= 12]
    live = [name for name, _lo, hi in by_sid[0] if hi > 12]
    assert len(below) == 2 and len(live) == 4
    assert not any(p.endswith(name) for p in opened for name in below)
    assert all(any(p.endswith(name) for p in opened) for name in live)

    monkeypatch.undo()
    after = sorted(tuple(r) for r in store.read("s", "ev").select(*COLS).collect())
    assert after == before
    _doc, by_sid = _entries(store)
    assert [e[1:] for e in by_sid[0]] == [[12, 30]]
    _check_ranges(store)
