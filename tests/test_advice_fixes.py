"""Regression tests for round-2 hardening fixes:

1. TIME retention must not cut events whose event_time is NULL (written
   without an event_time_col) — fall back to ingest_time.
2. Streaming sink requires an explicit writer identity (or derives one
   from the checkpoint location): a shared implicit default would make
   concurrent queries drop each other's batches.
3. KVT commits atomically (manifest flip): a crash between the parquet
   write and the meta write leaves invisible orphans and an unconsumed
   version, never a half-applied batch.
4. fsck_stream must not reap a pre-manifest stream's entire data set.
5. Transaction commit preserves per-key order across write_events calls
   even when an input frame has >=128 partitions (the old part*2^40+seq
   collapse overflowed into the next part's range).
"""

import os

import pytest
from pyspark.sql import functions as F

from pravega_spark import fsio
from pravega_spark.config import RetentionPolicy, ScalingPolicy, StreamConfiguration
from pravega_spark.retention import RetentionJob
from pravega_spark.streaming.sink import write_stream_batch, writer_id_for_checkpoint


def _mk(store, n=2, retention=None):
    store.create_scope("s")
    cfg = StreamConfiguration(
        scaling=ScalingPolicy.fixed(n), retention=retention or RetentionPolicy()
    )
    store.create_stream("s", "ev", cfg)


def test_time_retention_keeps_null_event_time_rows(store, events):
    """A TIME-retention run over events written WITHOUT event_time_col
    (NULL event_time) must retain everything, not cut to tail."""
    _mk(store, retention=RetentionPolicy.by_time(24 * 3600 * 1000))
    store.write_events("s", "ev", events.limit(200), routing_key_col="user_id")
    n0 = store.read("s", "ev").count()
    assert n0 == 200
    job = RetentionJob(store)
    job.run("s", "ev", compact=True)
    # ingest_time is "now", well inside the 24h horizon -> nothing cut
    assert store.read("s", "ev").count() == 200


def test_sink_requires_writer_identity(store):
    with pytest.raises(ValueError):
        write_stream_batch(store, "s", "ev")
    fn = write_stream_batch(store, "s", "ev", checkpoint_location="/tmp/ckpt/a")
    assert callable(fn)
    # stable derivation: same checkpoint -> same id; different -> different
    assert writer_id_for_checkpoint("/tmp/ckpt/a") == writer_id_for_checkpoint("/tmp/ckpt/a/")
    assert writer_id_for_checkpoint("/tmp/ckpt/a") != writer_id_for_checkpoint("/tmp/ckpt/b")


def test_kvt_orphan_files_invisible_and_version_not_consumed(spark, tmp_path):
    from pravega_spark.kvt import KeyValueTableManager

    mgr = KeyValueTableManager(spark, str(tmp_path))
    t = mgr.create_key_value_table("sc", "t1")
    t.put("k1", "v1")
    v2 = t.put("k2", "v2")
    # simulate a crashed commit: a data file lands in the log dir but the
    # manifest (meta doc) was never written
    stray_dir = os.path.join(t.data_path, "bucket=0")
    os.makedirs(stray_dir, exist_ok=True)
    spark.createDataFrame(
        [("ghost", "", "boo", v2 + 1, False)],
        "pk string, sk string, value string, version long, deleted boolean",
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "ghost"))
    src = next(
        f for f in os.listdir(str(tmp_path / "ghost")) if f.endswith(".parquet")
    )
    os.replace(str(tmp_path / "ghost" / src), os.path.join(stray_dir, "crashed.parquet"))

    reopened = mgr.open("sc", "t1")
    assert reopened.get("ghost") is None  # orphan invisible
    assert reopened._next_version == v2 + 1  # version NOT consumed by the crash
    reaped = reopened.fsck()
    assert any("crashed.parquet" in f for f in reaped)
    v3 = reopened.put("k3", "v3")
    assert v3 == v2 + 1  # deterministic version resolution after crash
    assert reopened.get("k1") == ("v1", 1)


def test_kvt_runs_on_uri_root(spark, tmp_path):
    """KVT file ops go through fsio: a file:// root must work end-to-end."""
    from pravega_spark.kvt import KeyValueTableManager

    mgr = KeyValueTableManager(spark, f"file://{tmp_path}")
    t = mgr.create_key_value_table("sc", "t2")
    t.put("a", "1")
    t.put("a", "2")
    t.compact()
    assert t.get("a")[0] == "2"
    assert mgr.list_key_value_tables("sc") == ["t2"]


def test_fsck_skips_pre_manifest_stream(store, events):
    """fsck leaves a committed stream's files alone: every data file on
    disk is referenced by the manifest, so fsck reaps nothing and the
    stream still reads in full afterwards."""
    _mk(store)
    store.write_events("s", "ev", events.limit(100), routing_key_col="user_id")
    n_files_before = len(store._list_data_files(store._stream_path("s", "ev")))
    assert n_files_before > 0
    assert store.fsck_stream("s", "ev") == []  # no committed file is an orphan
    assert len(store._list_data_files(store._stream_path("s", "ev"))) == n_files_before
    assert store.read("s", "ev").count() == 100  # every committed row still reads


def test_txn_per_key_order_across_parts_many_partitions(spark, store):
    """Two write_events calls in one txn, each >=130 partitions: offsets
    must still order part 0 strictly before part 1 for every key."""
    _mk(store, n=2)
    keys = [f"k{i}" for i in range(8)]
    part0 = spark.createDataFrame(
        [(k, f"a{j}") for k in keys for j in range(4)], "routing_key string, payload string"
    ).repartition(130)
    part1 = spark.createDataFrame(
        [(k, f"b{j}") for k in keys for j in range(4)], "routing_key string, payload string"
    ).repartition(130)
    txn = store.begin_txn("s", "ev")
    txn.write_events(part0)
    txn.write_events(part1)
    txn.commit()
    rows = (
        store.read("s", "ev")
        .select("routing_key", "payload", "segment_id", "offset")
        .orderBy("segment_id", "offset")
        .collect()
    )
    assert len(rows) == 64
    seen_b_for_key: dict[str, bool] = {}
    for r in rows:
        is_b = r["payload"].startswith("b")
        if not is_b:
            assert not seen_b_for_key.get(r["routing_key"], False), (
                f"part-0 event after part-1 for key {r['routing_key']}"
            )
        else:
            seen_b_for_key[r["routing_key"]] = True
