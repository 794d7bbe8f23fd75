"""Streaming plane: custom data source, reader groups, exactly-once sink
(CheckpointTest / ReadWriteTest streaming analogues)."""

import pytest
from pyspark.sql import functions as F

from pravega_spark.config import ReaderGroupConfig, ScalingPolicy, StreamConfiguration
from pravega_spark.streaming import ReaderGroup, write_stream_batch
from pravega_spark.streaming.datasource import register


def _mk(store, events, n_events=200):
    store.create_scope("s")
    store.create_stream("s", "ev", StreamConfiguration(scaling=ScalingPolicy.fixed(4)))
    enveloped = events.orderBy("event_id").limit(n_events).select(
        F.col("user_id").cast("string").alias("routing_key"),
        F.col("ts").alias("event_time"),
        F.to_json(F.struct("event_id", "event_type", "value")).cast("binary").alias("payload"),
    )
    store.write_events("s", "ev", enveloped)


def test_batch_format_read(store, events):
    _mk(store, events)
    register(store.spark)
    df = (
        store.spark.read.format("pravega_stream")
        .option("root", store.root)
        .option("scope", "s")
        .option("stream", "ev")
        .load()
    )
    assert df.count() == 200
    assert set(df.columns) == {"routing_key", "segment_id", "offset", "event_time", "ingest_time", "payload"}
    # payload decodes back (serializer round-trip)
    decoded = df.select(
        F.get_json_object(F.col("payload").cast("string"), "$.event_id").cast("long").alias("event_id")
    )
    assert decoded.distinct().count() == 200


def test_reader_group_stream_and_checkpoint(store, events, tmp_path):
    _mk(store, events)
    rg = ReaderGroup(store, "s", "ev", "rg1")
    out = []

    def sink(df, batch_id):
        out.append((batch_id, df.count()))

    q = rg.start(sink)
    q.awaitTermination(120)
    assert sum(n for _, n in out) == 200
    # positions advanced to tail
    assert rg.unread_events() == 0
    cut = rg.initiate_checkpoint("cp1")
    assert sum(cut.positions.values()) == 200
    assert store.load_stream_cut("s", "ev", "rg-rg1-cp1").positions == cut.positions
    # more data: restart resumes from checkpoint, reads only the delta
    more = events.orderBy("event_id").filter(F.col("event_id").between(200, 299)).select(
        F.col("user_id").cast("string").alias("routing_key"),
        F.col("ts").alias("event_time"),
        F.to_json(F.struct("event_id")).cast("binary").alias("payload"),
    )
    store.write_events("s", "ev", more)
    out.clear()
    q2 = rg.start(sink)
    q2.awaitTermination(120)
    assert sum(n for _, n in out) == 100
    rg.update_retention_stream_cut()
    subs = store.meta.list_subscribers("s", "ev")
    assert "rg-rg1" in subs


def test_bounded_reader_group(store, events):
    """End-cut bounded group (BoundedStreamReaderTest): reads stop at the cut."""
    _mk(store, events)
    head = store.head_stream_cut("s", "ev")
    mid = store.get_next_stream_cut("s", "ev", head, 10)
    rg = ReaderGroup(
        store, "s", "ev", "rg-bounded",
        ReaderGroupConfig(start_cut=None, end_cut=mid.positions),
    )
    df = rg.read_batch()
    assert df.count() == sum(mid.positions.values())
    total = [0]

    def sink(d, b):
        total[0] += d.count()

    q = rg.start(sink)
    q.awaitTermination(120)
    assert total[0] == sum(mid.positions.values())


def test_streaming_sink_exactly_once(store, events, tmp_path):
    """rate-limited source -> foreachBatch sink into a second stream;
    counts survive multi-batch delivery; batch replay is a no-op."""
    _mk(store, events)
    store.create_stream("s", "copy", StreamConfiguration(scaling=ScalingPolicy.fixed(2)))
    rg = ReaderGroup(store, "s", "ev", "rg-copy")
    sink = write_stream_batch(store, "s", "copy", routing_key_col="routing_key", writer_id="copy-sink")
    q = rg.start(sink)
    q.awaitTermination(120)
    assert store.read("s", "copy").count() == 200
    # manual replay of batch 0 (simulated sink retry) is deduped
    first = store.read("s", "ev").limit(10)
    sink(first, 0)
    assert store.read("s", "copy").count() == 200


def test_streaming_windowed_agg_with_watermark(store, events):
    """withWatermark + tumbling window over the stream source (T-ops on
    the consumption plane)."""
    _mk(store, events)
    rg = ReaderGroup(store, "s", "ev", "rg-agg")
    agg = (
        rg.read_stream()
        .withWatermark("event_time", "1 hour")
        .groupBy(F.window("event_time", "1 hour"), "routing_key")
        .agg(F.count("*").alias("n"))
    )
    # complete mode: availableNow delivers everything in one batch, and
    # append-mode windows would only flush on a *later* batch advancing
    # the watermark — complete shows the full aggregation state
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("agg_out")
        .option("checkpointLocation", rg.checkpoint_dir + "-agg")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = store.spark.sql("select * from agg_out").collect()
    assert len(rows) > 0
    assert sum(r["n"] for r in rows) == 200


def test_reader_group_across_scale_boundary(store, events):
    """SURVEY §7 hard part 5: a streaming read that spans an epoch change
    sees every event exactly once — old segments drain, successors are
    picked up mid-query from the refreshed segment metadata."""
    import time

    _mk(store, events, n_events=100)
    rg = ReaderGroup(store, "s", "ev", "rg-scale")
    seen = []

    def sink(df, bid):
        seen.extend(
            r[0] for r in df.select(
                F.get_json_object(F.col("payload").cast("string"), "$.event_id").cast("long")
            ).collect()
        )

    q = (
        rg.read_stream().writeStream.foreachBatch(sink)
        .option("checkpointLocation", rg.checkpoint_dir)
        .trigger(processingTime="1 second")
        .start()
    )
    deadline = time.time() + 120
    while time.time() < deadline and len(seen) < 100:
        time.sleep(1)
    assert len(seen) == 100

    # split the hottest segment -> new epoch; successors get the writes
    segs = store.current_segments("s", "ev")
    hot = max(segs, key=lambda s: store.meta.tail_offsets("s", "ev").get(s["segment_id"], 0))
    lo, hi = hot["key_start"], hot["key_end"]
    mid = (lo + hi) / 2
    store.scale_stream("s", "ev", [hot["segment_id"]], [(lo, mid), (mid, hi)])
    more = events.orderBy("event_id").filter(F.col("event_id").between(100, 199)).select(
        F.col("user_id").cast("string").alias("routing_key"),
        F.col("ts").alias("event_time"),
        F.to_json(F.struct("event_id", "event_type", "value")).cast("binary").alias("payload"),
    )
    store.write_events("s", "ev", more)
    deadline = time.time() + 120
    while time.time() < deadline and len(seen) < 200:
        time.sleep(1)
    q.stop()
    q.awaitTermination(60)
    assert sorted(seen) == list(range(200)), f"missing={set(range(200)) - set(seen)}"
    assert len(seen) == len(set(seen))  # exactly once


def test_reader_group_drain_with_rate_limit(store, events):
    """drain() processes the full backlog under max_events_per_trigger
    rate limiting and stops at the start-time tail (AvailableNow
    semantics the python source can't express natively)."""
    _mk(store, events, n_events=180)
    rg = ReaderGroup(store, "s", "ev", "rg-drain")
    got = []
    pending = rg.drain(lambda df, b: got.append(df.count()))
    assert pending == 180
    assert sum(got) == 180
    assert rg.unread_events() == 0
    # second drain: nothing pending, returns immediately
    got.clear()
    assert rg.drain(lambda df, b: got.append(df.count()), timeout_s=60) == 0
    assert sum(got) == 0


def test_rate_limit_cap_seeds_from_checkpoint(store, events, tmp_path):
    """A fresh (restarted) source instance seeds its rate-limit base from
    the query's offsets log: the first catch-up batch is capped per
    segment instead of replaying the whole backlog unbounded."""
    import json

    from pravega_spark.streaming.datasource import PravegaStreamReader

    _mk(store, events)  # 200 events over 4 segments (~50 each)
    committed = {str(s["segment_id"]): 5 for s in store.current_segments("s", "ev")}
    ckpt = tmp_path / "ckpt"
    (ckpt / "offsets").mkdir(parents=True)
    (ckpt / "offsets" / "0").write_text("v1\n{}\n" + json.dumps(committed))
    opts = {
        "root": store.root, "scope": "s", "stream": "ev",
        "max_events_per_trigger": "10", "checkpoint_dir": str(ckpt),
    }
    latest = PravegaStreamReader(opts).latestOffset()
    tails = store.tail_stream_cut("s", "ev").positions
    assert latest  # all segments present, capped relative to the seed
    for sid, off in latest.items():
        want = min(tails[int(sid)], 15)  # seed(5) + cap(10), clamped to tail
        assert off == want, f"segment {sid}: {off} != {want}"
    # without a checkpoint to seed from, the first batch is the
    # documented uncapped catch-up (reaches the ~50-event tails)
    uncapped = PravegaStreamReader({k: v for k, v in opts.items() if k != "checkpoint_dir"}).latestOffset()
    assert sum(uncapped.values()) == 200


def test_rate_limit_cap_survives_restart(store, events):
    """End-to-end restart: same rate-limited plan resumed on its real
    Spark checkpoint keeps every post-restart batch within the per-
    segment cap (pre-fix the first batch replayed the backlog whole)."""
    import time

    _mk(store, events, n_events=80)
    rg = ReaderGroup(store, "s", "ev", "rg-cap")
    batches: dict[int, int] = {}

    def run_until(total):
        # key by batch id: a foreachBatch retry re-runs the same id, and
        # appending raw counts would double-count it (load-flake source);
        # progress-gated with a generous deadline for a saturated host
        q = (
            rg.read_stream(max_events_per_trigger=10)
            .writeStream.foreachBatch(lambda df, b: batches.__setitem__(b, df.count()))
            .option("checkpointLocation", rg.checkpoint_dir)
            .trigger(processingTime="1 second")
            .start()
        )
        deadline = time.time() + 300
        while time.time() < deadline and sum(batches.values()) < total:
            time.sleep(1)
        # the counts reach the total inside foreachBatch, before Spark
        # writes that batch's commit log; stopping then would make the
        # restarted query re-run the batch. A batch's progress event
        # follows its commit, so wait for it
        last = max(batches, default=-1)
        while time.time() < deadline and (q.lastProgress or {}).get("batchId", -1) < last:
            time.sleep(0.2)
        q.stop()
        q.awaitTermination(60)

    run_until(80)
    assert sum(batches.values()) == 80
    more = events.orderBy("event_id").filter(F.col("event_id").between(80, 199)).select(
        F.col("user_id").cast("string").alias("routing_key"),
        F.col("ts").alias("event_time"),
        F.to_json(F.struct("event_id")).cast("binary").alias("payload"),
    )
    store.write_events("s", "ev", more)  # 120 events land while down
    batches.clear()
    run_until(120)
    sizes = list(batches.values())
    assert sum(sizes) == 120
    assert max(sizes) <= 40, f"post-restart batch exceeded 4 segments x cap 10: {sizes}"


def test_streaming_across_truncation(store, events):
    """Truncation under a reader group: positions before the new head
    resume at next-available data (the failOnDataLoss=false semantics;
    the reference's batch API raises TruncatedDataException, which
    store.read does — the streaming source resumes silently)."""
    _mk(store, events, n_events=100)
    rg = ReaderGroup(store, "s", "ev", "rg-trunc")
    got = []
    rg.drain(lambda df, b: got.append(df.count()))
    assert sum(got) == 100

    # truncate + physically drop everything consumed so far
    store.truncate_stream("s", "ev", store.tail_stream_cut("s", "ev"))
    store.compact_stream("s", "ev")

    more = events.orderBy("event_id").filter(F.col("event_id").between(100, 139)).select(
        F.col("user_id").cast("string").alias("routing_key"),
        F.col("ts").alias("event_time"),
        F.to_json(F.struct("event_id")).cast("binary").alias("payload"),
    )
    store.write_events("s", "ev", more)
    got.clear()
    rg.drain(lambda df, b: got.append(df.count()))
    assert sum(got) == 40  # exactly the post-truncation tail, no replay

    # the batch API surfaces truncation explicitly (TruncatedDataException)
    import pytest as _pytest

    from pravega_spark.errors import TruncatedDataException
    from pravega_spark.streamcut import StreamCut

    with _pytest.raises(TruncatedDataException):
        store.read("s", "ev", from_cut=StreamCut.of({0: 0}))
