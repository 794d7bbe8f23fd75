"""bulk_replay: Spark-side bulk writes, transactions and replay reads.

Runs on a SparkSession ``local[nproc]`` against a fresh 4-segment stream
per round. Events are generated in the JVM (see ``gen.bulk_frame``).

* write ops: ``write_events`` batches large enough for the distributed
  tier, each with ``writer_id``/``batch_seq``; the batch before the
  transaction is then sent again (op kind ``replay``, which must add
  nothing);
* a committed transaction staged in several ``Transaction.write_events``
  parts, and one aborted transaction;
* read ops: StreamCut-bounded reads over ``get_next_stream_cut`` windows
  of fixed distance, each aggregated per key and collected;
* one ``ReaderGroup.drain`` of the whole stream through foreachBatch.

Transaction ops and the drain count in ``events_per_s`` and in the CPU
metrics (write and read side respectively), not in the p50s.
"""

from __future__ import annotations

import os
import shutil
from concurrent.futures import ThreadPoolExecutor

from gen import UNIT, bulk_frame, bulk_key_len, bulk_params, segment_of
from harness import CheckFailed
from probes import tree_bytes

SCOPE, STREAM, WRITER = "bench", "events", "w0"
N_KEYS = 1000
SIZES = {
    # a cached 10k-event frame is ~3.3 MB, above the engine's 2 MiB
    # hot-tier cap, so direct batches take the distributed tier
    "full": {"batches": 6, "batch_events": 10_000, "txn_parts": 3, "part_events": 10_000,
             "abort_events": 2_000, "window": 5_000},
    "tiny": {"batches": 2, "batch_events": 600, "txn_parts": 2, "part_events": 300,
             "abort_events": 100, "window": 200},
}
SIZES["warm"] = {**SIZES["full"], "batches": 2, "txn_parts": 1, "abort_events": 1_000,
                 "window": 20_000}


class BulkReplay:
    SIZES = SIZES
    uses_spark = True

    def __init__(self, seed: int, size: str, workdir: str, spark):
        self.spark = spark
        self.params = bulk_params(seed, N_KEYS)
        self.size = SIZES[size]
        self.workdir = workdir
        self.parts = spark.sparkContext.defaultParallelism
        self.round_no = 0
        self.next_unit = 0
        self.stored_bytes = 0
        self.user_bytes = 0

    def _unit(self, n: int) -> dict:
        u = {"unit": self.next_unit, "n": n}
        self.next_unit += 1
        return u

    def prepare_round(self) -> dict:
        from pravega_spark.config import ScalingPolicy, StreamConfiguration
        from pravega_spark.store import StreamStore

        s = self.size
        root = os.path.join(self.workdir, f"bulk-{self.round_no}")
        self.round_no += 1
        store = StreamStore(self.spark, root)
        store.create_scope(SCOPE)
        store.create_stream(SCOPE, STREAM, StreamConfiguration(scaling=ScalingPolicy.fixed(4)))
        inputs = {
            "root": root, "store": store,
            "batches": [self._unit(s["batch_events"]) for _ in range(s["batches"])],
            "txn": [self._unit(s["part_events"]) for _ in range(s["txn_parts"])],
            "abort": self._unit(s["abort_events"]),
        }
        # inputs are materialized in the JVM before the round, so the
        # timed ops measure the store, not the generator; the caching
        # jobs run side by side to keep the untimed set-up short
        units = inputs["batches"] + inputs["txn"] + [inputs["abort"]]

        def materialize(u: dict) -> int:
            u["df"] = bulk_frame(self.spark, self.params, u["unit"], u["n"], self.parts).cache()
            return u["df"].count()

        with ThreadPoolExecutor(max_workers=self.parts) as pool:
            sizes = list(pool.map(materialize, units))
        if sizes != [u["n"] for u in units]:
            raise CheckFailed("bulk_replay: a generated input has the wrong size")
        return inputs

    def run_round(self, inputs: dict, ops) -> dict:
        from pyspark.sql import functions as F

        from pravega_spark.streaming.reader_group import ReaderGroup

        store, batches = inputs["store"], inputs["batches"]

        def write(seq: int, kind: str, events: int):
            with ops.op(kind, "write") as h:
                store.write_events(SCOPE, STREAM, batches[seq]["df"],
                                   writer_id=WRITER, batch_seq=seq)
                h.events = events

        # direct batches, the one before the txn replayed; the committed
        # txn lands between the last two direct batches
        for seq in range(len(batches) - 1):
            write(seq, "write", batches[seq]["n"])
        write(len(batches) - 2, "replay", 0)
        with ops.op("txn_begin", "write"):
            txn = store.begin_txn(SCOPE, STREAM)
        for part in inputs["txn"]:
            with ops.op("txn_write", "write"):
                txn.write_events(part["df"])
        with ops.op("txn_commit", "write") as h:
            txn.commit()
            h.events = sum(p["n"] for p in inputs["txn"])
        with ops.op("txn_begin", "write"):
            doomed = store.begin_txn(SCOPE, STREAM)
        with ops.op("txn_write", "write"):
            doomed.write_events(inputs["abort"]["df"])
        with ops.op("txn_abort", "write"):
            doomed.abort()
        last = len(batches) - 1
        write(last, "write", batches[last]["n"])

        head = store.head_stream_cut(SCOPE, STREAM)
        tail = store.tail_stream_cut(SCOPE, STREAM)
        windows, cut = [], head
        while cut.positions != tail.positions:
            with ops.op("read", "read") as h:
                nxt = store.get_next_stream_cut(SCOPE, STREAM, cut, self.size["window"])
                df = store.read(SCOPE, STREAM, cut, nxt)
                rows = df.groupBy("routing_key").agg(
                    F.count("*").alias("n"), F.sum(F.length("payload")).alias("bytes")
                ).collect()
                h.events = sum(r["n"] for r in rows)
            windows.append((cut, nxt, {r["routing_key"]: (r["n"], r["bytes"]) for r in rows}))
            cut = nxt

        drained: dict[tuple[str, int], list[int]] = {}

        def sink(df, batch_id):
            for r in df.groupBy(
                "routing_key", F.expr(f"unix_micros(event_time) div {UNIT}").alias("unit")
            ).agg(F.count("*").alias("n"), F.sum(F.length("payload")).alias("bytes")).collect():
                acc = drained.setdefault((r["routing_key"], r["unit"]), [0, 0])
                acc[0] += r["n"]
                acc[1] += r["bytes"]

        with ops.op("drain", "read") as h:
            pending = ReaderGroup(store, SCOPE, STREAM, "replay").drain(sink)
            h.events = sum(n for n, _ in drained.values())
        return {
            "head": head, "tail": tail, "windows": windows, "drained": drained,
            "pending": pending,
            "ranges": [(s["segment_id"], s["key_start"], s["key_end"])
                       for s in store.current_segments(SCOPE, STREAM)],
        }

    def check_round(self, inputs: dict, out: dict) -> None:
        batches = inputs["batches"]
        # commit order: direct batches, the txn before the last batch
        committed = batches[:-1] + inputs["txn"] + batches[-1:]
        seg_events: dict[int, list[tuple[str, int]]] = {}
        per_unit: dict[tuple[str, int], list[int]] = {}
        seg_cache: dict[str, int] = {}
        for u in committed:
            base = u["unit"] * UNIT
            for event_id in range(base, base + u["n"]):
                key, size = bulk_key_len(self.params, event_id)
                sid = seg_cache.get(key)
                if sid is None:
                    sid = seg_cache[key] = segment_of(key, out["ranges"])
                seg_events.setdefault(sid, []).append((key, size))
                acc = per_unit.setdefault((key, u["unit"]), [0, 0])
                acc[0] += 1
                acc[1] += size
        total = sum(len(v) for v in seg_events.values())

        # the windows tile [head, tail) without overlap
        windows = out["windows"]
        if not windows or windows[0][0] != out["head"] or windows[-1][1] != out["tail"]:
            raise CheckFailed("bulk_replay: windows do not start at head and end at tail")
        for (_, a_to, _), (b_from, _, _) in zip(windows, windows[1:]):
            if a_to != b_from:
                raise CheckFailed("bulk_replay: consecutive windows do not meet")
        for lo, hi, _ in windows:
            if any(hi.offset_for(s, 0) < lo.offset_for(s, 0) for s in hi.positions):
                raise CheckFailed("bulk_replay: a window ends before it starts")
        if out["head"].distance_to(out["tail"]) != total:
            raise CheckFailed("bulk_replay: tail does not total the committed events")
        # every window's per-key count and payload bytes
        for i, (lo, hi, got) in enumerate(windows):
            want: dict[str, tuple[int, int]] = {}
            for sid, events in seg_events.items():
                for key, size in events[lo.offset_for(sid, 0):hi.offset_for(sid, 0)]:
                    n, b = want.get(key, (0, 0))
                    want[key] = (n + 1, b + size)
            if got != want:
                raise CheckFailed(f"bulk_replay window {i}: per-key counts or bytes differ")
        # the drain: txn fully visible, aborted txn and the replay absent
        if out["drained"] != per_unit or out["pending"] != total:
            units = {u for _, u in out["drained"]} ^ {u for _, u in per_unit}
            raise CheckFailed(f"bulk_replay drain differs from the model (units off: {sorted(units)})")
        self.stored_bytes += tree_bytes(inputs["root"])
        self.user_bytes += sum(len(k) + size for evs in seg_events.values() for k, size in evs)
        shutil.rmtree(inputs["root"])
        for u in inputs["batches"] + inputs["txn"] + [inputs["abort"]]:
            u["df"].unpersist()
