"""The KVT point path's row-group cache.

``_point_lookup`` keeps each log row group it has read, and each file's
per-row-group pk ranges, in a process-wide byte-bounded LRU keyed by the
file's full path. Log files are immutable and the reloaded manifest is
the only source of visibility, so nothing is ever invalidated. These
tests pin a warm cache to ``snapshot()`` over every file flavor, across
compaction, fsck and another process's commits, check the LRU's budget,
eviction order and byte count under threads, show that a lookup turns
only the wanted rows into Python objects, cached or not, and that a
warm conditional update opens no file it has already read, however many
files the table holds.
"""

import os
import random
import shutil
import subprocess
import sys
import textwrap
import threading
import time
import tracemalloc
from collections import OrderedDict

import pyarrow.parquet as pq
import pytest

import pravega_spark.kvt as kvt_mod
from pravega_spark import fsio
from pravega_spark.config import KeyValueTableConfiguration
from pravega_spark.errors import BadKeyVersionException
from pravega_spark.kvt import MUST_NOT_EXIST, KeyValueTableManager, RowGroupCache
from test_kvt_point_lookup import _assert_point_path_equals_snapshot

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _table(spark, root, name="t", partitions=4):
    return KeyValueTableManager(spark, root).create_key_value_table(
        "s", name, KeyValueTableConfiguration(partition_count=partitions)
    )


@pytest.fixture()
def opened(monkeypatch):
    """Every log file path the point path opens, in order."""
    paths = []
    row_groups = fsio.parquet_row_groups

    def spy(path, *a, **kw):
        paths.append(path)
        return row_groups(path, *a, **kw)

    monkeypatch.setattr(fsio, "parquet_row_groups", spy)
    return paths


def _cached_paths() -> set[str]:
    return {k if isinstance(k, str) else k[0] for k in kvt_mod.row_cache._entries}


def _assert_warm_equals_snapshot(t, probes, opened):
    _assert_point_path_equals_snapshot(t, probes)  # warms the cache
    del opened[:]
    snap = _assert_point_path_equals_snapshot(t, probes)
    assert opened == []  # the second pass was served from memory
    return snap


def test_warm_point_path_equals_snapshot_across_file_flavors(spark, tmp_path, monkeypatch, opened):
    t = _table(spark, str(tmp_path))
    keys = [(f"k{i:02d}", "") for i in range(30)] + [("user", f"2024-0{m}") for m in range(1, 4)]
    probes = keys + [("absent", ""), ("user", "2025-01"), ("k00", "other-sk")]

    t.update([(pk, sk, "hot1") for pk, sk in keys], ["put"] * len(keys))
    t.update([(pk, sk, "hot2") for pk, sk in keys[::2]], ["put"] * len(keys[::2]))
    t.update([(pk, sk, None) for pk, sk in keys[::5]], ["remove"] * len(keys[::5]))
    snap = _assert_warm_equals_snapshot(t, probes, opened)
    assert ("k00", "") not in snap and snap[("k02", "")][0] == "hot2"

    # Spark-written files, a tombstone among them, over a warm cache
    monkeypatch.setattr(kvt_mod, "KVT_HOT_MAX_ROWS", 0)
    t.update([(pk, sk, "cold") for pk, sk in keys[:10]], ["put"] * 10)
    t.update([("k11", "", None), ("user", "2024-01", None)], ["remove", "remove"])
    snap = _assert_warm_equals_snapshot(t, probes, opened)
    assert snap[("k00", "")][0] == "cold" and ("k11", "") not in snap
    assert ("user", "2024-01") not in snap and ("user", "2024-02") in snap

    t.compact()
    _assert_warm_equals_snapshot(t, probes, opened)
    monkeypatch.setattr(kvt_mod, "KVT_HOT_MAX_ROWS", 100_000)
    t.update([("k01", "", "after"), ("user", "2024-03", "after")], ["put", "put"])
    t.remove("k03")
    snap = _assert_warm_equals_snapshot(t, probes, opened)
    assert snap[("user", "2024-03")][0] == "after" and ("k03", "") not in snap


@pytest.mark.parametrize("statistics", [True, False])
def test_rows_an_update_caches_match_its_files_row_groups(tmp_path, monkeypatch, statistics):
    """An update caches the rows it wrote, whole-file: lookups served
    from them equal cold reads of the file's row groups, whatever
    layout the writer chose, with or without pk statistics."""
    write_table = pq.write_table
    monkeypatch.setattr(pq, "write_table", lambda *a, **kw: write_table(
        *a, **{**kw, "row_group_size": 3, "write_statistics": statistics}))
    t = _table(None, str(tmp_path), partitions=2)
    keys = [(f"k{i:02d}", sk) for i in range(15) for sk in ("", "x")]
    t.update([(pk, sk, f"v{pk}{sk}") for pk, sk in keys], ["put"] * len(keys))
    t.update([(pk, sk, None) for pk, sk in keys[::3]], ["remove"] * len(keys[::3]))
    assert all(pq.ParquetFile(os.path.join(t.data_path, f)).num_row_groups > 1 for f in t._files)
    reads = []
    read_row_group = pq.ParquetFile.read_row_group
    monkeypatch.setattr(pq.ParquetFile, "read_row_group",
                        lambda self, i, **kw: reads.append(i) or read_row_group(self, i, **kw))
    probes = keys + [("k99", ""), ("k00", "y")]
    warm = t.get_all(probes)
    assert reads == []
    kvt_mod.row_cache.clear()
    assert t.get_all(probes) == warm and reads
    assert len(warm) == len(keys) - len(keys[::3])


def test_compact_and_fsck_leave_no_removed_file_in_use(spark, tmp_path, opened):
    t = _table(spark, str(tmp_path))
    keys = [(f"k{i:02d}", "") for i in range(20)]
    t.update([(pk, sk, "a") for pk, sk in keys], ["put"] * 20)
    t.update([(pk, sk, "b") for pk, sk in keys[::2]], ["put"] * 10)
    t.update([(pk, sk, None) for pk, sk in keys[::4]], ["remove"] * 5)
    # an orphan of a crashed commit: a copy of a live file under a new name
    live = t._files[0]
    orphan = os.path.join(os.path.dirname(live), "v99-deadbeef-hot.parquet")
    shutil.copy(os.path.join(t.data_path, live), os.path.join(t.data_path, orphan))
    before = _assert_point_path_equals_snapshot(t, keys)
    originals = {fsio.join(t.data_path, rel) for rel in t._files}
    assert originals <= _cached_paths()

    t.compact()
    assert t.fsck() == [orphan]
    removed = originals | {fsio.join(t.data_path, orphan)}
    assert not any(os.path.exists(p) for p in removed)
    del opened[:]
    after = _assert_point_path_equals_snapshot(t, keys)
    assert after == {k: (v, ver) for k, (v, ver) in before.items()}
    assert opened and not set(opened) & removed
    # the removed files' entries are still cached, and never asked for
    assert originals <= _cached_paths()


def test_another_process_commits_reach_a_warm_instance(tmp_path):
    root = str(tmp_path)
    t = _table(None, root)
    v1 = t.update([("a", "", "1"), ("b", "", "1")], ["insert", "insert"])
    assert t.get("a") == ("1", v1) and t.get("b") == ("1", v1)  # warm
    script = textwrap.dedent(f"""
        from pravega_spark.kvt import KeyValueTableManager
        t = KeyValueTableManager(None, {root!r}).open("s", "t")
        v2 = t.put("a", "2", expected_version={v1})
        v3 = t.remove("b", expected_version={v1})
        print(v2, v3)
    """)
    out = subprocess.run([sys.executable, "-c", script], cwd=REPO, capture_output=True,
                         text=True, timeout=120, env={**os.environ, "PYTHONPATH": REPO})
    assert out.returncode == 0, out.stderr
    v2, v3 = map(int, out.stdout.split())
    assert t.get("a") == ("2", v2) and t.get("b") is None and not t.exists("b")
    with pytest.raises(BadKeyVersionException):
        t.put("a", "stale", expected_version=v1)
    with pytest.raises(BadKeyVersionException):
        t.insert("a", "again")
    assert t.get("a") == ("2", v2)
    assert t.insert("b", "back") == v3 + 1  # the remove is seen by the CAS read


def test_lru_evicts_oldest_first_within_budget():
    c = RowGroupCache(1000)
    for k in "abc":
        c.put(k, k.upper(), 300)
    assert c.held == 900 and list(c._entries) == ["a", "b", "c"]
    assert c.get("a") == "A"  # a is now the most recent
    c.put("d", "D", 300)
    assert list(c._entries) == ["c", "a", "d"] and c.get("b") is None and c.held == 900
    c.put("e", "E", 650)  # evicts c, then a
    assert list(c._entries) == ["d", "e"] and c.held == 950
    c.put("d", "D2", 50)  # replacing an entry re-counts its bytes
    assert c.get("d") == "D2" and c.held == 700
    c.put("big", "X", 1001)  # larger than the whole budget: not kept
    assert c.get("big") is None and list(c._entries) == ["e", "d"] and c.held == 700
    c.clear()
    assert list(c._entries) == [] and c.held == 0


class _SwitchingDict(OrderedDict):
    """Gives up the interpreter between taking an entry out and the
    caller's next step, so unsynchronised callers interleave there."""

    def pop(self, *a):
        out = super().pop(*a)
        time.sleep(0)
        return out


def test_byte_count_survives_threads_interleaving_a_put():
    """Threads putting the same keys interleave inside ``put``; without
    the cache's lock one thread's entry is replaced while its bytes stay
    counted, and ``held`` drifts from the entries it holds."""
    c = RowGroupCache(10_000)
    c._entries = _SwitchingDict()
    errors = []

    def work(n):
        try:
            rng = random.Random(n)
            for _ in range(300):
                c.put(rng.randrange(8), n, rng.randrange(1, 400))
        except Exception as e:  # noqa: BLE001  (reported below)
            errors.append(e)

    threads = [threading.Thread(target=work, args=(n,)) for n in range(8)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=60)
    assert not any(th.is_alive() for th in threads) and not errors
    assert c.held == sum(n for _, n in c._entries.values()) <= c.budget


def _row_group_bytes(t) -> list[int]:
    return [pq.ParquetFile(os.path.join(t.data_path, rel)).read_row_group(
        0, columns=kvt_mod._LOG_COLUMNS).get_total_buffer_size() for rel in t._files]


def test_budget_holds_under_lookups_and_oversized_row_groups_stay_uncached(tmp_path, monkeypatch):
    t = _table(None, str(tmp_path), partitions=3)
    model = {}
    for b in range(12):
        entries = [(f"k{(b * 7 + j) % 60:02d}", "", f"v{b}") for j in range(10)]
        v = t.update(entries, ["put"] * 10)
        model.update({pk: (val, v) for pk, _, val in entries})
    probes = [(pk, "") for pk in sorted(model)]
    kvt_mod.row_cache.clear()
    t.get_all(probes)
    whole = kvt_mod.row_cache.held  # every row group and summary of the table
    reads = []
    read_row_group = pq.ParquetFile.read_row_group
    monkeypatch.setattr(pq.ParquetFile, "read_row_group",
                        lambda self, i, **kw: reads.append(i) or read_row_group(self, i, **kw))

    # a budget of half the table (one bucket's files fit): every lookup
    # stays right, and the held bytes never pass the budget while
    # entries are evicted
    small = RowGroupCache(whole // 2)
    monkeypatch.setattr(kvt_mod, "row_cache", small)
    for _ in range(3):
        for pk, sk in probes:
            assert t.get(pk, sk) == model[pk]
            assert 0 < small.held <= small.budget
            n = len(reads)
            assert t.get(pk, sk) == model[pk] and len(reads) == n  # a repeat is warm
    assert t.get_all(probes) == {k: model[k[0]] for k in probes}
    assert small.held <= small.budget
    # in key order the working set cycles past the budget: evicted row
    # groups were read again
    assert len(reads) > 3 * len(t._files)
    assert small.misses == len(reads) and small.hits > 0

    # a row group larger than the budget is read on every lookup and
    # never kept; only its file's pk-range summary is
    one = _table(None, str(tmp_path), name="one", partitions=1)
    vb = one.update([(f"big{i:04d}", "", "x") for i in range(200)], ["put"] * 200)
    cache = RowGroupCache(_row_group_bytes(one)[0] - 1)
    monkeypatch.setattr(kvt_mod, "row_cache", cache)
    del reads[:]
    for _ in range(2):
        assert one.get("big0007") == ("x", vb) and one.get("big0200") is None
    assert reads == [0, 0]  # big0200 is past the row group's pk max
    assert list(cache._entries) == [fsio.join(one.data_path, one._files[0])]
    assert (cache.hits, cache.misses) == (0, 2)


@pytest.mark.parametrize("budget", [kvt_mod.ROW_CACHE_BYTES, 1 << 20])
def test_a_lookup_decodes_only_the_wanted_rows(tmp_path, monkeypatch, budget):
    """Large values: a 4 MiB row group, cached (within the budget) or
    not (past it). A lookup of one key, cold or warm, turns only that
    key's row into Python objects, never the row group."""
    monkeypatch.setattr(kvt_mod, "row_cache", RowGroupCache(budget))
    t = _table(None, str(tmp_path), partitions=1)
    n, value = 1000, "v" * 4096
    v = t.update([(f"k{i:04d}", "", value) for i in range(n)], ["put"] * n)
    kvt_mod.row_cache.clear()  # the first lookup reads the file
    assert sum(_row_group_bytes(t)) > n * len(value)
    for _ in range(2):
        tracemalloc.start()
        try:
            assert t.get("k0500") == (value, v)
            peak = tracemalloc.get_traced_memory()[1]
        finally:
            tracemalloc.stop()
        assert peak < n * len(value) // 20, peak
    cached = kvt_mod.row_cache.held > 1 << 20
    assert cached == (budget == kvt_mod.ROW_CACHE_BYTES)


def test_warm_conditional_update_reads_no_seen_file(tmp_path, monkeypatch):
    """The structural form of a flat CAS cost: on a table of 100+
    uncompacted files, a warm conditional update of 20 keys opens none
    of the files a lookup has already read."""
    t = _table(None, str(tmp_path))
    rng = random.Random(7)
    keys = [f"k{i:04d}" for i in range(500)]
    model: dict[str, int] = {}
    while len(t._files) < 100:
        batch = rng.sample(keys, 20)
        v = t.update([(k, "", "x") for k in batch], ["put"] * 20,
                     [model.get(k, MUST_NOT_EXIST) for k in batch])
        model.update(dict.fromkeys(batch, v))
    batch = rng.sample(sorted(model), 20)
    kvt_mod.row_cache.clear()  # warm through the read path, not the writers' rows
    t.get_all([(k, "") for k in batch])
    reads, opens = [], []
    read_row_group = pq.ParquetFile.read_row_group
    monkeypatch.setattr(pq.ParquetFile, "read_row_group",
                        lambda self, i, **kw: reads.append(i) or read_row_group(self, i, **kw))
    parquet_file = pq.ParquetFile.__init__
    monkeypatch.setattr(pq.ParquetFile, "__init__",
                        lambda self, src, **kw: opens.append(src) or parquet_file(self, src, **kw))
    v = t.update([(k, "", "y") for k in batch], ["put"] * 20, [model[k] for k in batch])
    assert reads == [] and opens == []
    # nor does the next lookup: the update cached the rows it wrote
    assert t.get_all([(k, "") for k in batch]) == {(k, ""): ("y", v) for k in batch}
    assert reads == [] and opens == []
