"""hot_pubsub: JVM-free hot appends with a tailing reader.

No SparkSession is started (``StreamStore(None, root)``). One thread
alternates a writer and a tailing reader on a 4-segment stream:

* write op: one ``append_events`` batch with ``writer_id``/``batch_seq``;
  every 50th batch is sent twice, and the second send must add nothing;
* read op: after every 4 appends, one poll of the ``pravega_stream``
  source's reader called the way a Spark task calls it (``latestOffset``
  → ``partitions`` → ``read`` of every slice → ``commit``), preceded by a
  ``tail_stream_cut`` lag probe and followed by recording the position
  with ``StateSynchronizer.update_state``;
* at the end of the round a fresh reader reads the whole stream from
  the head (the catch-up read, its own op kind).
"""

from __future__ import annotations

import os
import random
import shutil
from collections import Counter

from gen import hot_batches, parse_header, zipf_cdf
from harness import CheckFailed
from probes import tree_bytes

SCOPE, STREAM, WRITER = "bench", "events", "w0"
SIZES = {
    # batches per round, events per batch, appends between polls, doubled-batch period
    "full": {"batches": 200, "batch_size": 100, "poll_every": 4, "double_every": 50},
    "warm": {"batches": 12, "batch_size": 100, "poll_every": 4, "double_every": 5},
    "tiny": {"batches": 12, "batch_size": 10, "poll_every": 4, "double_every": 5},
}
N_KEYS = 1000


def _merge_state(state, update):
    return dict(update)


class HotPubSub:
    SIZES = SIZES
    uses_spark = False

    def __init__(self, seed: int, size: str, workdir: str, spark=None):
        self.rng = random.Random(f"hot-{seed}")
        self.size = SIZES[size]
        self.workdir = workdir
        self.cdf = zipf_cdf(N_KEYS)
        self.round_no = 0
        self.stored_bytes = 0
        self.user_bytes = 0

    def prepare_round(self) -> dict:
        from pravega_spark.config import ScalingPolicy, StreamConfiguration
        from pravega_spark.store import StreamStore

        root = os.path.join(self.workdir, f"hot-{self.round_no}")
        self.round_no += 1
        store = StreamStore(None, root)
        store.create_scope(SCOPE)
        store.create_stream(SCOPE, STREAM, StreamConfiguration(scaling=ScalingPolicy.fixed(4)))
        s = self.size
        batches = hot_batches(self.rng, self.cdf, WRITER, s["batches"], s["batch_size"])
        return {"root": root, "store": store, "batches": batches}

    def run_round(self, inputs: dict, ops) -> dict:
        from pravega_spark.state import RevisionedStreamClient, StateSynchronizer
        from pravega_spark.streaming.datasource import PravegaStreamReader

        store, root, s = inputs["store"], inputs["root"], self.size
        opts = {"root": root, "scope": SCOPE, "stream": STREAM}
        reader = PravegaStreamReader(opts)
        sync = StateSynchronizer(
            RevisionedStreamClient(root, SCOPE, "reader-positions"), {}, _merge_state
        )
        polled, tails = [], []
        position = None

        def poll():
            nonlocal position
            with ops.op("read", "read") as h:
                tails.append(store.tail_stream_cut(SCOPE, STREAM))
                if position is None:
                    position = reader.initialOffset()
                end = reader.latestOffset()
                for part in reader.partitions(position, end):
                    for rb in reader.read(part):
                        polled.append(rb)
                        h.events += rb.num_rows
                reader.commit(end)
                sync.update_state(lambda state: [end])
                position = end

        for b, batch in enumerate(inputs["batches"]):
            sends = 2 if (b + 1) % s["double_every"] == 0 else 1
            for i in range(sends):
                with ops.op("write", "write") as h:
                    store.append_events(SCOPE, STREAM, batch, writer_id=WRITER, batch_seq=b)
                    h.events = len(batch) if i == 0 else 0
            if (b + 1) % s["poll_every"] == 0:
                poll()
        if len(inputs["batches"]) % s["poll_every"]:
            poll()

        fresh = PravegaStreamReader(opts)
        caught = []
        with ops.op("catchup", "read") as h:
            start = fresh.initialOffset()
            end = fresh.latestOffset()
            for part in fresh.partitions(start, end):
                for rb in fresh.read(part):
                    caught.append(rb)
                    h.events += rb.num_rows
            fresh.commit(end)
        return {
            "polled": polled, "caught": caught, "tails": tails, "last_end": position,
            "sync_state": sync.get_state(),
            "head": store.head_stream_cut(SCOPE, STREAM),
            "final_tail": store.tail_stream_cut(SCOPE, STREAM),
        }

    def check_round(self, inputs: dict, out: dict) -> None:
        acked = [ev for batch in inputs["batches"] for ev in batch]
        polled = _rows(out["polled"])
        # exactly once: every acked (writer, seq) delivered once, the
        # doubled batches included
        seen = Counter((w, q) for _, _, _, (w, q), _ in polled)
        want = {parse_header(ev["payload"]) for ev in acked}
        dupes = [k for k, n in seen.items() if n > 1]
        if dupes or set(seen) != want:
            raise CheckFailed(
                f"hot_pubsub tail reads: {len(dupes)} duplicated, "
                f"{len(want - set(seen))} missing, {len(set(seen) - want)} unexpected events"
            )
        # per routing key, seq rises strictly in (segment, offset) order
        last: dict[str, int] = {}
        for sid, off, key, (w, q), _ in sorted(polled, key=lambda r: (r[0], r[1])):
            if q <= last.get(key, -1):
                raise CheckFailed(f"hot_pubsub key {key}: seq {q} after {last[key]}")
            last[key] = q
        # per segment, offsets contiguous from head to tail
        head, tail = out["head"].positions, out["final_tail"].positions
        by_seg: dict[int, list[int]] = {}
        for sid, off, *_ in polled:
            by_seg.setdefault(sid, []).append(off)
        for sid in set(tail) | set(by_seg):
            offs = sorted(by_seg.get(sid, []))
            if offs != list(range(head.get(sid, 0), tail.get(sid, 0))):
                raise CheckFailed(f"hot_pubsub segment {sid}: offsets not contiguous head..tail")
        # the tail cut totals the events acked (last poll saw the final tail)
        if out["head"].distance_to(out["tails"][-1]) != len(acked):
            raise CheckFailed("hot_pubsub: tail stream cut does not total the acked events")
        # catch-up read == union of the tail reads
        if sorted(_rows(out["caught"])) != sorted(polled):
            raise CheckFailed("hot_pubsub: catch-up read differs from the union of tail reads")
        # synchronizer state == reader's last committed offsets
        if out["sync_state"] != out["last_end"]:
            raise CheckFailed("hot_pubsub: synchronizer state differs from the reader position")
        self.stored_bytes += tree_bytes(inputs["root"])
        self.user_bytes += sum(len(ev["payload"]) + len(ev["routing_key"]) for ev in acked)
        shutil.rmtree(inputs["root"])


def _rows(batches) -> list[tuple]:
    """(segment, offset, key, (writer, seq), payload) per delivered row."""
    out = []
    for rb in batches:
        cols = rb.to_pydict()
        for sid, off, key, payload in zip(
            cols["segment_id"], cols["offset"], cols["routing_key"], cols["payload"]
        ):
            out.append((sid, off, key, parse_header(payload), payload))
    return out
