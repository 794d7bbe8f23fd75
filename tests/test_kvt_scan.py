"""KVT scans and compaction in Arrow for bounded tables.

Below the driver-side bound (the decoded Arrow bytes of the log rows a
scan reads, at most ``kvt.ROW_CACHE_BYTES``), ``snapshot()``, the four
iterators, the
delta iterator and ``compact()`` resolve the latest version per key in
Arrow and run no Spark job. These tests pin those results to the Spark
path (forced by patching the bound to 0) across every file flavor a
table holds, count the Spark jobs of each op with a job group and the
status tracker, and drive every op on a table opened without a
SparkSession, below and above the bound.
"""

import os
import subprocess
import sys
import textwrap
import time
import uuid

import pytest

import pravega_spark.kvt as kvt_mod
from pravega_spark.config import KeyValueTableConfiguration
from pravega_spark.errors import SparkRequiredException
from pravega_spark.hashing import bucket_for_key_py
from pravega_spark.kvt import KeyValueTableManager

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _table(spark, root, name="t", partitions=4):
    return KeyValueTableManager(spark, root).create_key_value_table(
        "s", name, KeyValueTableConfiguration(partition_count=partitions)
    )


# (label, method, arguments): each scan op with the arguments that cover
# a match, an empty result and the secondary-key bounds
SCANS = [
    ("snapshot", "snapshot", ()),
    ("iterate_all", "iterate_all", ()),
    ("iterate_prefix", "iterate_prefix", ("k1",)),
    ("iterate_prefix-empty", "iterate_prefix", ("zz",)),
    ("iterate_prefix-all", "iterate_prefix", ("",)),
    ("iterate_range", "iterate_range", ("k05", "k15")),
    ("iterate_primary_key", "iterate_primary_key", ("user",)),
    ("iterate_primary_key-sk", "iterate_primary_key", ("user", "2024-02", "2024-04")),
    ("iterate_primary_key-absent", "iterate_primary_key", ("absent",)),
    ("entry_delta_iterator", "entry_delta_iterator", (0,)),
    ("entry_delta_iterator-from", "entry_delta_iterator", (3,)),
]


def _scan(t, method: str, args: tuple, arrow: bool):
    """A scan op as a DataFrame, or as an Arrow table from its twin."""
    return getattr(t, method + "_arrow" if arrow else method)(*args)


def _order(row: tuple) -> list:
    """A sort key for rows that may hold a null: a null sorts first."""
    return [(x is not None, x) for x in row]


def _results(t) -> dict:
    """Every scan op's rows, as DataFrames (order kept, except the
    snapshot's, which Spark leaves unordered) and as the Arrow twins."""
    out = {}
    for label, method, args in SCANS:
        rows = [tuple(r) for r in _scan(t, method, args, False).collect()]
        twin = [tuple(r.values()) for r in _scan(t, method, args, True).to_pylist()]
        if method == "snapshot":
            rows, twin = sorted(rows, key=_order), sorted(twin, key=_order)
        out[label], out[label + "/arrow"] = rows, twin
    return out


def _other_process_commits(root: str, name: str) -> None:
    script = textwrap.dedent(f"""
        from pravega_spark.kvt import KeyValueTableManager
        t = KeyValueTableManager(None, {root!r}).open("s", {name!r})
        t.update([("k03", "", "other"), ("k19", "", None), ("user", "2024-09", "other")],
                 ["put", "remove", "insert"])
    """)
    out = subprocess.run([sys.executable, "-c", script], cwd=REPO, capture_output=True,
                         text=True, timeout=120, env={**os.environ, "PYTHONPATH": REPO})
    assert out.returncode == 0, out.stderr


def _commit_null_sk_file(t) -> None:
    """Commit log rows whose ``sk`` is null, as writers left them before
    the stored key form mapped a ``None`` secondary key to ``""``. The
    Spark window takes a null ``sk`` for a key of its own."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    with t._lock():
        t._reload_meta()
        v = t._next_version
        rows = [("k10", None, "legacy", v), ("legacy", None, "old", v),
                ("legacy", None, "new", v + 1), ("user", None, "legacy", v + 1)]
        by_bucket = {}
        for pk, sk, value, version in rows:
            by_bucket.setdefault(bucket_for_key_py(pk, t.config.partition_count), []).append(
                {"pk": pk, "sk": sk, "value": value, "version": version, "deleted": False})
        for b, rs in by_bucket.items():
            rel = os.path.join(f"bucket={b}", f"v{v}-null-sk.parquet")
            os.makedirs(os.path.dirname(os.path.join(t.data_path, rel)), exist_ok=True)
            pq.write_table(pa.Table.from_pylist(rs, schema=kvt_mod._log_schema()),
                           os.path.join(t.data_path, rel))
            t._files.append(rel)
        t._next_version = v + 2
        t._save_meta()


def _fill(t, monkeypatch, root: str, name: str) -> None:
    """Hot-written files (tombstones, secondary keys, re-puts), Spark-
    written files over them (a tombstone among them), a file with null
    secondary keys and a commit from another process."""
    keys = [(f"k{i:02d}", "") for i in range(25)] + [("user", f"2024-0{m}") for m in range(1, 6)]
    t.update([(pk, sk, "hot1") for pk, sk in keys], ["put"] * len(keys))
    t.update([(pk, sk, "hot2") for pk, sk in keys[::2]], ["put"] * len(keys[::2]))
    t.update([(pk, sk, None) for pk, sk in keys[::5]], ["remove"] * len(keys[::5]))
    monkeypatch.setattr(kvt_mod, "KVT_HOT_MAX_ROWS", 0)
    t.update([(pk, sk, "cold") for pk, sk in keys[1:12]], ["put"] * 11)
    t.update([("k11", "", None), ("user", "2024-02", None), ("k05", "", "back")],
             ["remove", "remove", "put"])
    monkeypatch.setattr(kvt_mod, "KVT_HOT_MAX_ROWS", 100_000)
    _commit_null_sk_file(t)
    _other_process_commits(root, name)


def _log_rows(t) -> list[tuple]:
    """The committed log's rows, wherever they sit."""
    t._reload_meta()
    return sorted((tuple(r.values()) for r in t._read_log(t._files).to_pylist()), key=_order)


def test_arrow_scans_and_compaction_equal_the_spark_path(spark, tmp_path, monkeypatch):
    root = str(tmp_path)
    arrow_t, spark_t = _table(spark, root, "a"), _table(spark, root, "b")
    for name, t in (("a", arrow_t), ("b", spark_t)):
        _fill(t, monkeypatch, root, name)

    def spark_path(fn):
        with monkeypatch.context() as m:
            m.setattr(kvt_mod, "ROW_CACHE_BYTES", 0)
            return fn()

    # an empty table: the Arrow path even at a bound of 0
    empty = _table(spark, root, "empty")
    assert all(rows == [] for rows in _results(empty).values())
    assert spark_path(lambda: _results(empty)) == _results(empty)

    # hot-written, Spark-written and another process's files
    got = _results(arrow_t)
    assert got == spark_path(lambda: _results(spark_t)) == spark_path(lambda: _results(arrow_t))
    assert got["snapshot"] and got["iterate_prefix"] and got["iterate_primary_key-sk"]
    assert got["iterate_prefix-empty"] == got["iterate_primary_key-absent"] == []
    assert ("k03", "", "other", 8) in got["snapshot"]
    # a null sk is a key of its own, listed before the pk's other keys,
    # and hides neither the pk's other heads nor the next pk's
    assert [r[:2] for r in got["iterate_prefix"]] == [("k10", None), ("k10", "")] + [
        (f"k{i}", "") for i in (12, 13, 14, 16, 17, 18)]
    assert ("legacy", None, "new", 7) in got["snapshot"]
    assert [r[1] for r in got["iterate_primary_key"]] == [None] + [f"2024-0{m}" for m in (3, 4, 5, 9)]
    assert got["entry_delta_iterator"] == sorted(got["entry_delta_iterator"], key=lambda r: r[3])

    # the two compactions leave equal logs: live heads, deleted=False
    arrow_t.compact()
    spark_path(spark_t.compact)
    assert _log_rows(arrow_t) == _log_rows(spark_t)
    assert [r[:4] for r in _log_rows(arrow_t)] == got["snapshot"]
    assert not any(r[4] for r in _log_rows(arrow_t))
    assert len(arrow_t._files) == 4 and all("compact-" in f for f in arrow_t._files)
    assert not arrow_t.fsck() and not spark_t.fsck()
    after = _results(arrow_t)
    assert after == spark_path(lambda: _results(spark_t)) == spark_path(lambda: _results(arrow_t))
    assert after["snapshot"] == got["snapshot"]

    # hot files on top of compacted ones
    for t in (arrow_t, spark_t):
        t.update([("k01", "", "after"), ("user", "2024-03", None)], ["put", "remove"])
    assert _results(arrow_t) == spark_path(lambda: _results(spark_t))


def _spark_jobs(spark, fn) -> int:
    """Spark jobs ``fn`` runs, counted through its job group. A sentinel
    job in a group of its own follows: the status store records jobs in
    order, so once the sentinel shows every earlier job has."""
    sc = spark.sparkContext
    group = f"kvt-scan-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "kvt scan")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc.setJobGroup(group + "-sentinel", "sentinel")
    try:
        sc.parallelize([1], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 60
    while not tracker.getJobIdsForGroup(group + "-sentinel"):
        assert time.monotonic() < deadline, "the sentinel job never showed"
        time.sleep(0.01)
    return len(tracker.getJobIdsForGroup(group))


def test_scans_and_compaction_of_a_bounded_table_run_no_spark_job(spark, tmp_path, monkeypatch):
    root = str(tmp_path)
    t = _table(spark, root)
    _fill(t, monkeypatch, root, "t")
    empty = _table(spark, root, "empty")
    # the counter sees a job where there is one
    assert _spark_jobs(spark, lambda: t._log().collect()) >= 1
    for label, method, args in SCANS:
        for table in (t, empty):
            assert _spark_jobs(spark, lambda: _scan(table, method, args, False).collect()) == 0, label
            assert _spark_jobs(spark, lambda: _scan(table, method, args, True)) == 0, label
    assert _spark_jobs(spark, t.compact) == 0
    assert _spark_jobs(spark, empty.compact) == 0
    assert _spark_jobs(spark, lambda: t.snapshot().collect()) == 0
    # above the bound, the same ops are Spark jobs again
    monkeypatch.setattr(kvt_mod, "ROW_CACHE_BYTES", 0)
    assert _spark_jobs(spark, lambda: t.iterate_prefix("k1").collect()) >= 1
    assert _spark_jobs(spark, t.compact) >= 1


def test_a_table_without_spark_serves_every_op_while_bounded(tmp_path, monkeypatch):
    root = str(tmp_path)
    t = _table(None, root)
    v1 = t.update([(f"k{i:02d}", "", "a") for i in range(20)] + [("user", "2024-01", "u")],
                  ["insert"] * 21)
    v2 = t.put("k01", "b", expected_version=v1)
    v3 = t.remove("k02", expected_version=v1)
    assert t.get("k01") == ("b", v2) and not t.exists("k02")
    snap = t.snapshot_arrow().to_pylist()
    assert len(snap) == 20 and snap == sorted(snap, key=lambda r: (r["pk"], r["sk"]))
    assert t.iterate_all_arrow().equals(t.snapshot_arrow())
    assert [r["pk"] for r in t.iterate_prefix_arrow("k1").to_pylist()] == [f"k{i}" for i in range(10, 20)]
    assert [r["pk"] for r in t.iterate_range_arrow("k00", "k03").to_pylist()] == ["k00", "k01"]
    assert t.iterate_primary_key_arrow("user", sk_from="2024").to_pylist() == [
        {"pk": "user", "sk": "2024-01", "value": "u", "version": v1}]
    delta = t.entry_delta_iterator_arrow(v1).to_pylist()
    assert [(r["pk"], r["version"], r["deleted"]) for r in delta] == [("k01", v2, False), ("k02", v3, True)]
    for call in (t.snapshot, t.iterate_all, lambda: t.iterate_prefix("k"),
                 lambda: t.iterate_range("a", "z"), lambda: t.iterate_primary_key("user"),
                 t.entry_delta_iterator):
        with pytest.raises(SparkRequiredException, match="DataFrame"):
            call()
    before = t.snapshot_arrow()
    t.compact()
    assert t.snapshot_arrow().equals(before) and t.fsck() == []
    assert t.entry_delta_iterator_arrow(0).num_rows == 20

    # above the bound the same instance names what is missing; point
    # ops and hot updates still need no Spark
    monkeypatch.setattr(kvt_mod, "ROW_CACHE_BYTES", 0)
    files = list(t._files)
    for call in (t.snapshot_arrow, t.iterate_all_arrow, lambda: t.iterate_prefix_arrow("k"),
                 lambda: t.iterate_range_arrow("a", "z"), lambda: t.iterate_primary_key_arrow("user"),
                 t.entry_delta_iterator_arrow, t.compact):
        with pytest.raises(SparkRequiredException, match="above 0 bytes"):
            call()
    assert t._files == files and t.fsck() == []
    assert t.put("k03", "c") == v3 + 1 and t.get("k03") == ("c", v3 + 1)
    monkeypatch.setattr(kvt_mod, "KVT_HOT_MAX_ROWS", 0)
    with pytest.raises(SparkRequiredException, match="update"):
        t.put("k04", "d")


def test_arrow_twins_above_the_bound_collect_the_spark_scan(spark, tmp_path, monkeypatch):
    t = _table(spark, str(tmp_path))
    t.update([(f"k{i:02d}", "", str(i)) for i in range(10)], ["put"] * 10)
    t.remove("k03")
    bounded = {label: _scan(t, method, args, True).to_pylist() for label, method, args in SCANS}
    monkeypatch.setattr(kvt_mod, "ROW_CACHE_BYTES", 0)
    above = {label: _scan(t, method, args, True).to_pylist() for label, method, args in SCANS}
    key = lambda r: (r["pk"], r["sk"])  # noqa: E731
    assert sorted(above.pop("snapshot"), key=key) == bounded.pop("snapshot")
    assert above == bounded


def test_a_warm_scan_opens_no_file(tmp_path, monkeypatch):
    """Scans read through the row-group cache and count their bound as
    they read: a repeated scan opens no file, and a cold one opens each
    file once."""
    import pyarrow.parquet as pq

    t = _table(None, str(tmp_path))
    for b in range(6):
        t.update([(f"k{(b * 3 + j) % 30:02d}", "", str(b)) for j in range(8)], ["put"] * 8)
    t.compact()
    t.update([("k00", "", "hot")], ["put"])
    opens = []
    parquet_file = pq.ParquetFile.__init__
    monkeypatch.setattr(pq.ParquetFile, "__init__",
                        lambda self, src, **kw: opens.append(src) or parquet_file(self, src, **kw))
    kvt_mod.row_cache.clear()
    cold = t.snapshot_arrow()
    assert opens and len(opens) == len(set(opens))
    del opens[:]
    assert t.snapshot_arrow().equals(cold) and t.iterate_prefix_arrow("k1").num_rows
    assert t.entry_delta_iterator_arrow(0).num_rows and opens == []


def test_the_bound_counts_decoded_bytes(spark, tmp_path, monkeypatch):
    """Many keys sharing one large value: dictionary encoding stores the
    value once per row group, so the parquet row-group sizes stay far
    below the bound, while the decoded log is above it. The scans and
    compaction take the Spark path, and a table without Spark raises."""
    import pyarrow.parquet as pq

    monkeypatch.setattr(kvt_mod, "ROW_CACHE_BYTES", 1 << 20)
    root = str(tmp_path)
    t = _table(spark, root)
    big = "x" * 1024
    t.update([(f"k{i:04d}", "", big) for i in range(2000)], ["put"] * 2000)
    encoded = 0
    for rel in t._files:
        md = pq.ParquetFile(os.path.join(t.data_path, rel)).metadata
        encoded += sum(md.row_group(i).total_byte_size for i in range(md.num_row_groups))
    assert encoded < kvt_mod.ROW_CACHE_BYTES // 4 and 2000 * len(big) > kvt_mod.ROW_CACHE_BYTES

    bare = KeyValueTableManager(None, root).open("s", "t")
    for call in (bare.snapshot_arrow, lambda: bare.iterate_prefix_arrow("k1"),
                 bare.entry_delta_iterator_arrow, bare.compact):
        with pytest.raises(SparkRequiredException, match="above"):
            call()
    assert _spark_jobs(spark, lambda: t.iterate_prefix("k1").collect()) >= 1
    assert t.iterate_prefix_arrow("k1").num_rows == 1000
    assert _spark_jobs(spark, t.compact) >= 1
    assert all("compact-" in rel for rel in t._files) and t.fsck() == []
    assert t.get("k1999") == (big, 1)
    # one bucket's share of the log is below the bound: the bucket's
    # primary-key scan stays in Arrow
    assert _spark_jobs(spark, lambda: t.iterate_primary_key("k0001").collect()) == 0
