"""Hot-tier commit path (W1/W2 writeEvent(s) + small-batch commits).

The reference acks appends from the durable log in milliseconds
(AppendProcessor.java:302, DurableLog.java:67) — no distributed work per
append. The engine mirrors that split: StreamStore.append_events /
write_event commit rows driver-side via pyarrow (zero Spark jobs), and
_commit_rows routes small DataFrame batches (by Catalyst size estimate)
through the same hot writer. Both tiers end at the same manifest flip,
so every durability/ordering/exactly-once invariant must hold across
and BETWEEN tiers.
"""

import datetime

from pyspark.sql import Window
from pyspark.sql import functions as F

import pravega_spark.store as store_mod
from pravega_spark.config import ScalingPolicy, StreamConfiguration


def _mk(store, n=4):
    store.create_scope("s")
    store.create_stream("s", "ev", StreamConfiguration(scaling=ScalingPolicy.fixed(n)))


def _ev(i, key=None):
    return {
        "routing_key": key or f"k{i % 7}",
        "payload": f"p-{i}",
        "ts": datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=i),
    }


def test_append_events_roundtrip_with_order_and_times(store):
    _mk(store)
    store.append_events("s", "ev", [_ev(i) for i in range(100)], event_time_key="ts")
    df = store.read("s", "ev")
    assert df.count() == 100
    assert df.filter(F.col("event_time").isNull()).count() == 0
    assert df.filter(F.col("ingest_time").isNull()).count() == 0
    # per-key order: payload sequence must be increasing along offsets
    w = Window.partitionBy("routing_key").orderBy("offset")
    viol = (
        df.withColumn("seq", F.split("payload", "-").getItem(1).cast("long"))
        .withColumn("prev", F.lag("seq").over(w))
        .filter(F.col("prev") > F.col("seq"))
        .count()
    )
    assert viol == 0


def test_append_exactly_once_retry(store):
    _mk(store)
    store.append_events("s", "ev", [_ev(1)], writer_id="w", batch_seq=0)
    store.append_events("s", "ev", [_ev(2)], writer_id="w", batch_seq=1)
    # replayed batch is a no-op
    store.append_events("s", "ev", [_ev(99)], writer_id="w", batch_seq=1)
    assert store.read("s", "ev").count() == 2


def test_write_event_single(store):
    _mk(store)
    tails = store.write_event("s", "ev", "alpha", {"payload": "x"})
    assert sum(tails.values()) == 1
    row = store.read("s", "ev").collect()[0]
    assert row["routing_key"] == "alpha" and row["payload"] == "x"
    assert row["event_time"] is None  # no event_time_key -> NULL, ingest set
    assert row["ingest_time"] is not None


def test_hot_and_distributed_tiers_interleave(spark, store):
    """Same stream, alternating tiers: offsets stay contiguous, per-key
    order holds, and the read plane sees one coherent log."""
    _mk(store)
    store.append_events("s", "ev", [_ev(i) for i in range(50)], event_time_key="ts")
    old = store_mod.HOT_MAX_EST_BYTES
    try:
        store_mod.HOT_MAX_EST_BYTES = 0  # force the distributed writer
        df = spark.createDataFrame(
            [(f"k{i % 7}", f"p-{100 + i}") for i in range(50)],
            "routing_key string, payload string",
        )
        store.write_events("s", "ev", df)
    finally:
        store_mod.HOT_MAX_EST_BYTES = old
    store.append_events("s", "ev", [_ev(200 + i) for i in range(50)], event_time_key="ts")
    out = store.read("s", "ev")
    assert out.count() == 150
    gaps = (
        out.groupBy("segment_id")
        .agg(F.count("*").alias("n"), (F.max("offset") - F.min("offset") + 1).alias("span"))
        .filter(F.col("n") != F.col("span"))
        .count()
    )
    assert gaps == 0
    # hot-after-distributed-after-hot preserves per-key phase order
    w = Window.partitionBy("routing_key").orderBy("offset")
    viol = (
        out.withColumn("seq", F.split("payload", "-").getItem(1).cast("long"))
        .withColumn("prev", F.lag("seq").over(w))
        .filter(F.col("prev") > F.col("seq"))
        .count()
    )
    assert viol == 0


def test_hot_files_compact_away(store):
    """Many tiny hot appends -> compaction coalesces files (the tiering
    story: hot acks now, StorageWriter-style consolidation later)."""
    _mk(store, n=2)
    for b in range(10):
        store.append_events("s", "ev", [_ev(b * 10 + j) for j in range(10)])
    path = store._stream_path("s", "ev")
    n_before = len(store._list_data_files(path))
    assert n_before >= 10
    store.compact_stream("s", "ev")
    n_after = len(store._list_data_files(path))
    assert n_after <= 2  # one file per live segment
    assert store.read("s", "ev").count() == 100


def test_hot_appends_share_one_normalizer(store, monkeypatch):
    """``append_events`` and ``append_table`` normalize alike: a non-string
    routing key is cast to string and a null one becomes "". They differ
    in one pinned way: ``append_events`` casts an ``event_time_key`` of
    "event_time" to UTC microseconds, while ``append_table`` commits a
    table's own ``event_time`` column as it stands."""
    import pyarrow as pa

    _mk(store)
    committed = []
    commit = store._hot_commit
    monkeypatch.setattr(store, "_hot_commit", lambda scope, stream, tbl, *a, **kw:
                        committed.append(tbl) or commit(scope, stream, tbl, *a, **kw))
    t0 = datetime.datetime(2024, 1, 1)
    utc_us, ms = pa.timestamp("us", tz="UTC"), pa.timestamp("ms")
    store.append_events("s", "ev", [{"key": 7, "event_time": t0, "payload": "a"},
                                    {"key": None, "event_time": t0, "payload": "b"}],
                        routing_key="key", event_time_key="event_time")
    tbl = pa.table({"routing_key": pa.array([7, None], pa.int64()),
                    "event_time": pa.array([t0, t0], ms), "payload": ["c", "d"]})
    store.append_table("s", "ev", tbl, event_time_col="event_time")
    store.append_table("s", "ev", tbl.rename_columns(["routing_key", "ts", "payload"]),
                       event_time_col="ts")
    events, own, renamed = committed
    for t in committed:
        assert t["routing_key"].type == pa.string()
        assert t["routing_key"].to_pylist() == ["7", ""]
    assert events["event_time"].type == utc_us
    assert own["event_time"].type == ms
    assert renamed["event_time"].type == utc_us
    assert events["key"].to_pylist() == [7, None]  # the source column stays
    assert sum(store.meta.tail_offsets("s", "ev").values()) == 6
