"""The stream-slice reader: each planned file read row group by row group
through ``fsio.parquet_row_groups``, with no pyarrow Dataset scanner.

Every test compares ``_read_slice_table`` with a plain full read of the
segment's files filtered on ``offset``, over each kind of file a stream
holds (hot, distributed, txn-committed, compacted), over files with many
row groups, without statistics or without ``event_time``, and on an
object-store root. A slice planned before a compaction still reads its
rows after it. The hot tier's payload columns carry no statistics.
"""

import datetime as dt
import os
import subprocess
import sys
import textwrap

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import pravega_spark.store as store_mod
from pravega_spark import fsio
from pravega_spark.config import KeyValueTableConfiguration, ScalingPolicy, StreamConfiguration
from pravega_spark.errors import TruncatedDataException
from pravega_spark.kvt import KeyValueTableManager
from pravega_spark.store import StreamStore
from pravega_spark.streamcut import StreamCut
from pravega_spark.streaming.datasource import _read_slice_table, plan_slices
from test_object_store import moto_endpoint, object_store  # noqa: F401  (fixtures)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

ENVELOPE_ARROW = pa.schema([
    ("routing_key", pa.string()), ("segment_id", pa.int64()), ("offset", pa.int64()),
    ("event_time", pa.timestamp("us")), ("ingest_time", pa.timestamp("us")),
    ("payload", pa.binary()),
])
T0 = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)


def _mk(store, n_segments=2):
    store.create_scope("s")
    store.create_stream("s", "ev", StreamConfiguration(scaling=ScalingPolicy.fixed(n_segments)))


def _events(tag, n):
    return [
        {"routing_key": f"{tag}-{i % 5}", "event_time": T0 + dt.timedelta(seconds=i),
         "payload": f"{tag}{i}".encode()}
        for i in range(n)
    ]


def _naive(v):
    return v.replace(tzinfo=None) if isinstance(v, dt.datetime) else v


def _full(store, sid, lo, hi):
    """Rows of ``[lo, hi)`` from a plain read of EVERY file of the
    segment, as envelope dicts (a column a file lacks reads as None)."""
    path = store._stream_path("s", "ev")
    doc = store.meta.segments_doc("s", "ev")
    rows = []
    for rel in store.meta.segment_files("s", "ev", str(sid), doc["segments"][str(sid)]):
        for r in fsio.parquet_read_table(fsio.join(path, rel)).to_pylist():
            if lo <= r["offset"] < hi:
                rows.append({n: sid if n == "segment_id" else _naive(r.get(n))
                             for n in ENVELOPE_ARROW.names})
    return sorted(rows, key=lambda r: r["offset"])


def _check_slice(store, sid, lo, hi):
    [sl] = plan_slices(store.root, "s", "ev", {str(sid): lo}, {str(sid): hi})
    tbl = _read_slice_table(sl)
    assert tbl.schema == ENVELOPE_ARROW
    assert tbl.to_pylist() == _full(store, sid, lo, hi)
    assert tbl.num_rows == hi - lo
    return tbl


def _check_slices(store):
    """Whole segment, middle third, last three and one offset of each."""
    doc = store.meta.segments_doc("s", "ev")
    for sid_str, s in doc["segments"].items():
        sid, head, tail = int(sid_str), s["head_offset"], s["tail_offset"]
        if tail == head:
            continue
        third = (tail - head) // 3
        for lo, hi in ((head, tail), (head + third, tail - third),
                       (max(head, tail - 3), tail), (head + third, head + third + 1)):
            if hi > lo:
                _check_slice(store, sid, lo, hi)


def test_slice_reader_equals_full_read_across_writers(spark, store, monkeypatch):
    _mk(store)
    for b in range(4):  # hot tier
        store.append_events("s", "ev", _events(f"h{b}", 9), writer_id="w", batch_seq=b)
    _check_slices(store)

    monkeypatch.setattr(store_mod, "HOT_MAX_EST_BYTES", 0)  # distributed tier
    frame = spark.createDataFrame(
        [(e["routing_key"], e["event_time"], e["payload"]) for e in _events("d", 40)],
        "routing_key string, event_time timestamp, payload binary",
    )
    store.write_events("s", "ev", frame.repartition(3))
    txn = store.begin_txn("s", "ev")
    txn.write_events(frame.limit(15))
    txn.commit()
    _check_slices(store)

    tails = store.meta.tail_offsets("s", "ev")
    store.truncate_stream("s", "ev", StreamCut.of({sid: t // 3 for sid, t in tails.items()}))
    store.compact_stream("s", "ev")
    doc = store.meta.segments_doc("s", "ev")
    assert all(
        "compact-" in f
        for sid, s in doc["segments"].items()
        for f in store.meta.segment_files("s", "ev", sid, s)
    )
    _check_slices(store)


def _counted_row_groups(monkeypatch):
    reads = []
    read_row_group = pq.ParquetFile.read_row_group
    monkeypatch.setattr(pq.ParquetFile, "read_row_group",
                        lambda self, i, **kw: reads.append(i) or read_row_group(self, i, **kw))
    return reads


def _small_row_groups(monkeypatch, **extra):
    write_table = pq.write_table
    monkeypatch.setattr(pq, "write_table",
                        lambda *a, **kw: write_table(*a, **{**kw, "row_group_size": 4, **extra}))


def test_row_groups_outside_the_slice_are_skipped(tmp_path, monkeypatch):
    _small_row_groups(monkeypatch)
    store = StreamStore(None, str(tmp_path / "st"))
    _mk(store, n_segments=1)
    store.append_events("s", "ev", _events("a", 40), writer_id="w", batch_seq=0)
    [rel] = store.meta.segment_files("s", "ev", "0", store.meta.segments_doc("s", "ev")["segments"]["0"])
    assert pq.read_metadata(fsio.join(store._stream_path("s", "ev"), rel)).num_row_groups == 10

    reads = _counted_row_groups(monkeypatch)
    _check_slice(store, 0, 10, 18)  # offsets 8-11, 12-15 and 16-19
    assert reads == [2, 3, 4]
    reads.clear()
    _check_slice(store, 0, 12, 16)  # one whole row group
    assert reads == [3]
    reads.clear()
    _check_slice(store, 0, 0, 40)
    assert reads == list(range(10))


def test_row_groups_without_statistics_are_read_and_filtered(tmp_path, monkeypatch):
    _small_row_groups(monkeypatch, write_statistics=False)
    store = StreamStore(None, str(tmp_path / "st"))
    _mk(store, n_segments=1)
    store.append_events("s", "ev", _events("a", 20), writer_id="w", batch_seq=0)
    store.append_events("s", "ev", _events("b", 6), writer_id="w", batch_seq=1)
    path = store._stream_path("s", "ev")
    files = store.meta.segment_files("s", "ev", "0", store.meta.segments_doc("s", "ev")["segments"]["0"])
    md = pq.read_metadata(fsio.join(path, files[0]))
    assert md.num_row_groups == 5 and not md.row_group(0).column(0).is_stats_set

    reads = _counted_row_groups(monkeypatch)
    _check_slice(store, 0, 5, 22)  # every row group of both files
    assert len(reads) == 5 + 2


def test_file_without_event_time_reads_nulls(tmp_path):
    store = StreamStore(None, str(tmp_path / "st"))
    _mk(store, n_segments=1)
    for b in range(3):
        store.append_events("s", "ev", _events(f"x{b}", 5), writer_id="w", batch_seq=b)
    path = store._stream_path("s", "ev")
    files = store.meta.segment_files("s", "ev", "0", store.meta.segments_doc("s", "ev")["segments"]["0"])
    middle = fsio.join(path, files[1])
    pq.write_table(pq.read_table(middle).drop_columns(["event_time"]), middle)

    times = _check_slice(store, 0, 3, 12)["event_time"].to_pylist()
    assert None not in times[:2] + times[7:] and times[2:7] == [None] * 5


def test_slice_reader_on_an_object_store_root(object_store, monkeypatch):  # noqa: F811
    _small_row_groups(monkeypatch)
    _handler, root = object_store
    store = StreamStore(None, root)
    _mk(store)
    for b in range(3):
        store.append_events("s", "ev", _events(f"o{b}", 12), writer_id="w", batch_seq=b)
    _check_slices(store)


def test_slice_planned_before_compaction_reads_the_same_rows(spark, store):
    """Compaction deletes the files a planned slice names right after its
    flip; the slice re-plans from the current manifest and reads exactly
    the rows it read before, unless a truncation moved the head past its
    start."""
    _mk(store)
    for b in range(5):
        store.append_events("s", "ev", _events(f"c{b}", 8), writer_id="w", batch_seq=b)
    tails = store.meta.tail_offsets("s", "ev")
    windows = [({}, {str(k): v for k, v in tails.items()}),
               ({str(k): 2 for k in tails}, {str(k): v - 1 for k, v in tails.items()})]
    planned = [sl for lo, hi in windows for sl in plan_slices(store.root, "s", "ev", lo, hi)]
    before = [_read_slice_table(sl) for sl in planned]

    store.compact_stream("s", "ev")
    path = store._stream_path("s", "ev")
    assert not any(fsio.exists(fsio.join(path, f)) for sl in planned for f in sl.files)
    after = [_read_slice_table(sl) for sl in planned]
    assert all(a.equals(b) for a, b in zip(after, before))
    assert sum(t.num_rows for t in after[: len(tails)]) == 40

    # a truncation past a slice's start, then a compaction: the rows
    # below the new head are gone, so that slice raises instead of
    # quietly reading fewer rows; a slice from the head on reads them all
    tails = store.meta.tail_offsets("s", "ev")
    assert all(t >= 2 for t in tails.values())
    end = {str(k): v for k, v in tails.items()}
    whole = plan_slices(store.root, "s", "ev", {}, end)
    upper = plan_slices(store.root, "s", "ev", {str(k): v // 2 for k, v in tails.items()}, end)
    kept = [_read_slice_table(sl) for sl in upper]
    store.truncate_stream("s", "ev", StreamCut.of({k: v // 2 for k, v in tails.items()}))
    store.compact_stream("s", "ev")
    assert not any(fsio.exists(fsio.join(path, f)) for sl in whole for f in sl.files)
    for sl in whole:
        with pytest.raises(TruncatedDataException):
            _read_slice_table(sl)
    assert all(_read_slice_table(sl).equals(t) for sl, t in zip(upper, kept))


def test_hot_files_keep_statistics_except_on_payload(tmp_path):
    """Payload bytes are written without statistics; the columns readers
    prune on keep theirs."""
    store = StreamStore(None, str(tmp_path / "st"))
    _mk(store, n_segments=1)
    store.append_events("s", "ev", _events("p", 25), writer_id="w", batch_seq=0)
    path = store._stream_path("s", "ev")
    [rel] = store.meta.segment_files("s", "ev", "0", store.meta.segments_doc("s", "ev")["segments"]["0"])
    rg = pq.read_metadata(fsio.join(path, rel)).row_group(0)
    cols = {rg.column(i).path_in_schema: rg.column(i) for i in range(rg.num_columns)}
    assert not cols["payload"].is_stats_set
    for name in ("offset", "event_time", "routing_key"):
        assert cols[name].is_stats_set and cols[name].statistics.has_min_max, name
    assert cols["offset"].statistics.min == 0 and cols["offset"].statistics.max == 24

    t = KeyValueTableManager(None, str(tmp_path / "kvt")).create_key_value_table(
        "s", "t", KeyValueTableConfiguration(partition_count=1)
    )
    t.update([("a", "", "x"), ("b", "", "y")], ["put", "put"])
    [kv] = t._files
    rg = pq.read_metadata(fsio.join(t.data_path, kv)).row_group(0)
    pk = next(rg.column(i) for i in range(rg.num_columns) if rg.column(i).path_in_schema == "pk")
    assert pk.is_stats_set and (pk.statistics.min, pk.statistics.max) == ("a", "b")


def test_tail_poll_and_kvt_get_never_import_the_dataset_scanner(tmp_path):
    """The JVM-free read paths stay off ``pyarrow.dataset``: importing it
    costs the process tens of MiB of resident memory."""
    script = textwrap.dedent(f"""
        import sys
        from pravega_spark.config import KeyValueTableConfiguration, ScalingPolicy, StreamConfiguration
        from pravega_spark.kvt import KeyValueTableManager
        from pravega_spark.store import StreamStore
        from pravega_spark.streaming.datasource import PravegaStreamReader

        root = {str(tmp_path / "st")!r}
        store = StreamStore(None, root)
        store.create_scope("s")
        store.create_stream("s", "ev", StreamConfiguration(scaling=ScalingPolicy.fixed(2)))
        store.append_events("s", "ev", [{{"routing_key": str(i), "payload": b"p"}} for i in range(10)])
        reader = PravegaStreamReader({{"root": root, "scope": "s", "stream": "ev"}})
        start, end = reader.initialOffset(), reader.latestOffset()
        rows = sum(b.num_rows for p in reader.partitions(start, end) for b in reader.read(p))
        t = KeyValueTableManager(None, {str(tmp_path / "kvt")!r}).create_key_value_table(
            "s", "t", KeyValueTableConfiguration(partition_count=2))
        v = t.put("k", "v")
        assert t.get("k") == ("v", v)
        print(rows, "pyarrow.dataset" in sys.modules)
    """)
    out = subprocess.run([sys.executable, "-c", script], cwd=REPO, capture_output=True,
                         text=True, timeout=120, env={**os.environ, "PYTHONPATH": REPO})
    assert out.returncode == 0, out.stderr
    assert out.stdout.split() == ["10", "False"]
