"""Optimization-round pins: the multi-feed pumping drain.

``ReaderGroup.pumping`` replaces N back-to-back ``drain()`` calls with
ONE long-lived query + N bounded waits (the streaming-query start/stop
per feed was pure fixed cost). These tests pin the semantics the
optimization must preserve: every feed lands in its own micro-batch
(N feeds ⇒ ≥N data triggers, never fused), the union of delivered rows
equals the written rows exactly once, and a later drain() resumes from
the pump's checkpoint (shared exactly-once ledger)."""

import pytest
from pyspark.sql import functions as F

from pravega_spark.config import ScalingPolicy, StreamConfiguration
from pravega_spark.streaming import ReaderGroup


def _mk_stream(store, n_segments=2):
    store.create_scope("s")
    store.create_stream(
        "s", "src", StreamConfiguration(scaling=ScalingPolicy.fixed(n_segments))
    )


def _feed(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").cast("string").alias("routing_key"),
        F.current_timestamp().alias("event_time"),
        F.col("id").cast("string").cast("binary").alias("payload"),
    )


def test_pumping_three_feeds_three_batches_exactly_once(spark, store):
    _mk_stream(store)
    batches = []  # (batch_id, payload ints) per sink invocation

    def sink(df, bid):
        batches.append((bid, sorted(int(r[0]) for r in
                                    df.select(df.payload.cast("string")).collect())))

    rg = ReaderGroup(store, "s", "src", "g-pumping")
    with rg.pumping(sink) as wait_drained:
        for lo, hi in ((0, 40), (40, 90), (90, 100)):
            store.write_events("s", "src", _feed(spark, lo, hi))
            wait_drained()
    # Spark may plan one empty batch at query start (batch 0 on an
    # empty stream) — the sink sees it with zero rows; every LATER
    # trigger with nothing new plans no batch at all
    data = [(b, got) for b, got in batches if got]
    assert all(not got for b, got in batches if (b, got) not in data)
    # each atomically-committed feed landed in its own micro-batch:
    # three data triggers, disjoint ids, union == written ids
    assert len(data) == 3, batches
    ids = [i for _, got in data for i in got]
    assert sorted(ids) == list(range(100))
    assert len(set(ids)) == 100  # exactly once
    # batch boundaries align with the feeds (no fusion, no split)
    assert [len(got) for _, got in data] == [40, 50, 10]
    # and the batch ids are the monotone Spark batch sequence
    assert [b for b, _ in batches] == sorted(b for b, _ in batches)


def test_pumping_then_drain_share_checkpoint(spark, store):
    """A drain() AFTER a pumping session resumes from the same committed
    positions — the pump must leave the group's checkpoint exactly as a
    drain sequence would."""
    _mk_stream(store)
    seen = []

    def sink(df, bid):
        seen.extend(int(r[0]) for r in df.select(df.payload.cast("string")).collect())

    rg = ReaderGroup(store, "s", "src", "g-pump-then-drain")
    with rg.pumping(sink) as wait_drained:
        store.write_events("s", "src", _feed(spark, 0, 30))
        wait_drained()
    store.write_events("s", "src", _feed(spark, 30, 60))
    rg.drain(sink)
    assert sorted(seen) == list(range(60))


def test_pumping_reraises_sink_failure(spark, store):
    _mk_stream(store)

    def sink(df, bid):
        raise RuntimeError("sink boom")

    rg = ReaderGroup(store, "s", "src", "g-pump-fail")
    with pytest.raises(Exception) as ei:
        with rg.pumping(sink, timeout_s=60) as wait_drained:
            store.write_events("s", "src", _feed(spark, 0, 10))
            wait_drained()
    assert "boom" in str(ei.value)


def test_bounded_state_session_scopes_and_sizes_state(spark, tmp_path):
    """The keyspace-sized state-partition bound (1) actually pins the
    state-store partition count of a windowed aggregation run on the
    bounded clone, and (2) NEVER touches the parent session's conf — a
    query planned concurrently on the parent keeps its partitioning
    (VERDICT r11 item 7: the r11 context manager mutated the shared
    session conf for its duration).

    The bound is chosen to differ from both of the parent's partition
    counts (``shuffle.partitions`` and AQE's ``initialPartitionNum``):
    ``load_table`` runs the autosizer, which sets the parent's
    ``initialPartitionNum`` to ``cpus`` on small inputs, so a fixed
    bound can equal the parent's own count and a plan on the parent
    could not tell a leaked bound from the parent's partitioning."""
    from pravega_spark.queries.stream_ops import _bounded_state_session

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    parent_initial = int(
        spark.conf.get("spark.sql.adaptive.coalescePartitions.initialPartitionNum")
    )
    n = next(k for k in range(2, 16) if k not in (int(prev), parent_initial))
    src = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    df = spark.range(0, 100).select(
        F.expr("timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0, id % 7, 0)")
        .alias("ts"),
        F.col("id").alias("v"),
    )
    df.coalesce(1).write.parquet(src)
    bounded = _bounded_state_session(spark, n)
    assert bounded.conf.get("spark.sql.shuffle.partitions") == str(n)
    # the bound is INVISIBLE to the parent, even while the clone exists
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    q = (
        bounded.readStream.schema("ts timestamp, v long").parquet(src)
        .withWatermark("ts", "1 minute")
        .groupBy(F.window("ts", "1 minute"))
        .count()
        .writeStream.format("noop")
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    # a query planned on the PARENT mid-run shuffles at the parent's
    # partitioning: planning reads the session's SQLConf, and the
    # parent's is untouched while the clone's query runs — the plan's
    # pre-AQE exchange carries the parent's count (with AQE coalescing
    # on, initialPartitionNum: the partition count before coalescing),
    # not the bound
    import re

    plan = (
        spark.range(0, 10)
        .withColumn("k", F.col("id") % 3)
        .groupBy("k")
        .count()
        ._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
    )
    counts = {int(m) for m in re.findall(r"hashpartitioning\([^\[\]]*?(\d+)\)", plan)}
    assert counts == {parent_initial} and n not in counts, (counts, n, plan)
    q.awaitTermination()
    import os
    state_parts = [d for d in os.listdir(os.path.join(ckpt, "state", "0"))
                   if d.isdigit()]
    assert len(state_parts) == n, (state_parts, n)
    # parent conf untouched after the run as well
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev


def test_bounded_state_session_keeps_parent_initial_partitions(spark, tmp_path):
    """The clone carries the parent's AQE initial partition count, as
    set by the autosizer: ``newSession()`` starts from the builder's
    conf, so without the copy a batch shuffle planned on the clone
    starts at the builder's constant instead of the parent's count."""
    from pravega_spark.queries.stream_ops import _bounded_state_session
    from pravega_spark.session import autosize_shuffle_partitions

    key = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    n = autosize_shuffle_partitions(spark, str(tmp_path))  # empty input: cpus
    assert spark.conf.get(key) == str(n)
    bounded = _bounded_state_session(spark, 3)
    assert bounded.conf.get(key) == spark.conf.get(key) == str(n)
    assert bounded.conf.get("spark.sql.shuffle.partitions") == "3"
