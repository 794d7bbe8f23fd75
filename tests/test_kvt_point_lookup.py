"""KVT point ops as driver-side Arrow key lookups.

``get``, ``get_all``, ``exists`` and the CAS read of a conditional
update read only the keys' ``bucket=N/`` files with pyarrow. These tests
pin that path to the Spark window ``snapshot()`` resolves over the whole
log, across every file flavor a table holds (hot-written, Spark-written,
compacted, tombstones, secondary keys), and run the point ops with no
SparkSession at all, on a local root and on an object-store root.
"""

import pyarrow.parquet as pq
import pytest

import pravega_spark.kvt as kvt_mod
from pravega_spark.config import KeyValueTableConfiguration
from pravega_spark.errors import BadKeyVersionException, NoSuchKeyException
from pravega_spark.kvt import MUST_NOT_EXIST, KeyValueTableManager
from test_object_store import moto_endpoint, object_store  # noqa: F401  (fixtures)


def _table(spark, root, name="t", partitions=4):
    return KeyValueTableManager(spark, root).create_key_value_table(
        "s", name, KeyValueTableConfiguration(partition_count=partitions)
    )


def _assert_point_path_equals_snapshot(t, probes):
    snap = {(r["pk"], r["sk"]): (r["value"], r["version"]) for r in t.snapshot().collect()}
    want = {k: snap[k] for k in probes if k in snap}
    assert t.get_all(probes) == want
    for pk, sk in probes:
        assert t.get(pk, sk) == snap.get((pk, sk)), (pk, sk)
        assert t.exists(pk, sk) == ((pk, sk) in snap)
    return snap


def test_point_path_equals_snapshot_across_file_flavors(spark, tmp_path, monkeypatch):
    t = _table(spark, str(tmp_path))
    keys = [(f"k{i:02d}", "") for i in range(30)] + [("user", f"2024-0{m}") for m in range(1, 4)]
    probes = keys + [("absent", ""), ("user", "2025-01"), ("k00", "other-sk")]

    # hot-written files, two versions deep, plus tombstones
    t.update([(pk, sk, "hot1") for pk, sk in keys], ["put"] * len(keys))
    t.update([(pk, sk, "hot2") for pk, sk in keys[::2]], ["put"] * len(keys[::2]))
    t.update([(pk, sk, None) for pk, sk in keys[::5]], ["remove"] * len(keys[::5]))
    snap = _assert_point_path_equals_snapshot(t, probes)
    assert ("k00", "") not in snap and snap[("k02", "")][0] == "hot2"

    # Spark-written files over the hot ones, including a re-put of a
    # removed key and a Spark-written tombstone
    monkeypatch.setattr(kvt_mod, "KVT_HOT_MAX_ROWS", 0)
    t.update([(pk, sk, "cold") for pk, sk in keys[:10]], ["put"] * 10)
    t.update([("k11", "", None)], ["remove"])
    snap = _assert_point_path_equals_snapshot(t, probes)
    assert snap[("k00", "")][0] == "cold" and ("k11", "") not in snap
    assert t._log().count() > len(snap)

    # compacted files, then hot files on top of them
    t.compact()
    _assert_point_path_equals_snapshot(t, probes)
    monkeypatch.setattr(kvt_mod, "KVT_HOT_MAX_ROWS", 100_000)
    t.update([("k01", "", "after"), ("user", "2024-02", "after")], ["put", "put"])
    t.remove("k03")
    snap = _assert_point_path_equals_snapshot(t, probes)
    assert snap[("user", "2024-02")][0] == "after" and ("k03", "") not in snap


def test_row_groups_outside_the_keys_pk_range_are_not_read(spark, tmp_path, monkeypatch):
    """A file holding many pks is read one row group at a time, and a
    row group whose pk min/max excludes every wanted key is skipped;
    a warm lookup reads none."""
    write_table = pq.write_table
    monkeypatch.setattr(pq, "write_table",
                        lambda *a, **kw: write_table(*a, row_group_size=4, **kw))
    t = _table(spark, str(tmp_path), partitions=1)
    keys = [f"k{i:03d}" for i in range(40)]  # sorted: row groups hold disjoint pk ranges
    t.update([(k, "", f"v{k}") for k in keys], ["put"] * len(keys))
    t.update([(k, "", None) for k in keys[1::2]], ["remove"] * 20)

    reads = []
    read_row_group = pq.ParquetFile.read_row_group
    monkeypatch.setattr(pq.ParquetFile, "read_row_group",
                        lambda self, i, **kw: reads.append(i) or read_row_group(self, i, **kw))
    kvt_mod.row_cache.clear()
    assert t.get("k021") is None  # removed in the second file
    kvt_mod.row_cache.clear()
    assert t.get("k020") == ("vk020", 1)
    # two cold lookups, each one row group in each of the two files
    assert len(reads) == 4
    assert t.get("k020") == ("vk020", 1)
    assert len(reads) == 4  # the warm lookup reads no row group
    _assert_point_path_equals_snapshot(t, [(k, "") for k in keys] + [("k999", "")])


def test_duplicate_key_in_a_batch_keeps_the_last_entry(spark, tmp_path, monkeypatch):
    """One (pk, sk) named twice in a batch commits its LAST entry only,
    on both writers; the point path and snapshot() agree on it."""
    for name, hot_max in (("hot", 100_000), ("cold", 0)):
        monkeypatch.setattr(kvt_mod, "KVT_HOT_MAX_ROWS", hot_max)
        t = _table(spark, str(tmp_path), name=name)
        v = t.update([("a", "", "first"), ("b", "", "x"), ("a", None, "last")], ["put"] * 3)
        assert t.get("a") == ("last", v)
        assert {r["pk"]: r["value"] for r in t.snapshot().collect()} == {"a": "last", "b": "x"}
        assert t._log().count() == 2  # one row per key
        # the last entry decides the batch's conditions too
        v2 = t.update([("a", "", "bad"), ("a", "", "cas")], ["insert", "put"], [MUST_NOT_EXIST, v])
        assert t.get("a") == ("cas", v2)
        v3 = t.update([("b", "", "y"), ("b", "", None)], ["put", "remove"])
        assert v3 == v2 + 1 and t.get("b") is None and not t.exists("b")


def _exercise_point_ops(t):
    """get/get_all/exists and conditional updates on a table opened
    without a SparkSession."""
    v1 = t.update([("k1", "", "a"), ("k2", "", "b")], ["insert", "insert"])
    assert t.get("k1") == ("a", v1) and t.exists("k2") and not t.exists("k3")
    v2 = t.put("k1", "a2", expected_version=v1)
    assert t.get_all([("k1", ""), ("k2", ""), ("k3", "")]) == {("k1", ""): ("a2", v2), ("k2", ""): ("b", v1)}
    # a stale CAS commits nothing, the whole batch included
    with pytest.raises(BadKeyVersionException):
        t.update([("k3", "", "c"), ("k1", "", "stale")], ["put", "put"], [MUST_NOT_EXIST, v1])
    with pytest.raises(BadKeyVersionException):
        t.insert("k2", "dup")
    with pytest.raises(NoSuchKeyException):
        t.put("k3", "c", expected_version=v2)
    assert t.get("k3") is None and t.get("k1") == ("a2", v2)
    v3 = t.remove("k2", expected_version=v1)
    assert v3 == v2 + 1 and t.get("k2") is None
    assert t.insert("k2", "again") == v3 + 1  # a removed key can be inserted again
    # a None secondary key names the same key as "" on writes and reads
    v5 = t.update([("n", None, "none-sk")], ["put"])
    assert t.get("n", None) == t.get("n") == ("none-sk", v5)
    assert t.exists("n", None)
    assert t.get_all([("n", None)]) == {("n", None): ("none-sk", v5)}
    assert t.put("n", "cas", sk=None, expected_version=v5) == v5 + 1


def test_point_ops_and_cas_without_a_spark_session(tmp_path):
    t = _table(None, str(tmp_path))
    _exercise_point_ops(t)
    # a second handle (another process) sees the first one's commits
    other = KeyValueTableManager(None, str(tmp_path)).open("s", "t")
    assert other.get("n") == t.get("n") and other.get("k1") == t.get("k1")


def test_point_ops_and_cas_on_an_object_store_root(object_store):  # noqa: F811
    _handler, root = object_store
    t = _table(None, root)
    _exercise_point_ops(t)
    assert all(f.startswith("bucket=") for f in t._files)
