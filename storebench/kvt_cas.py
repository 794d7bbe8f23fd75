"""kvt_cas: conditional updates and point reads on a key-value table.

Runs on a SparkSession ``local[nproc]`` against a fresh table with the
default 4 partitions per round.

* write op: one ``update`` batch of 20 conditional puts over 2,000
  Zipf-drawn keys, each carrying the version the workload's own model
  expects (``MUST_NOT_EXIST`` for a key the model has not seen). One
  batch in ten carries a stale version for one key: it must raise
  ``BadKeyVersionException`` and commit nothing, and counts as a
  success when it does;
* read op: after every 5th batch, three ``get`` calls of Zipf-drawn
  keys (three rather than one, so a round yields 12 read samples);
* after every 20th batch an ``iterate_prefix``, and one ``compact()`` at
  the round's midpoint. These two count in wall time (``events_per_s``)
  only: a prefix's row count depends on the seed, so it would make the
  read CPU per event a function of the seed.
"""

from __future__ import annotations

import os
import random
import shutil

from gen import key_name, kvt_keys, kvt_value, zipf_cdf, zipf_draw
from harness import CheckFailed
from probes import tree_bytes

SCOPE, TABLE = "bench", "table"
N_KEYS = 2000
SIZES = {
    "full": {"batches": 20, "entries": 20, "stale_every": 10, "get_every": 5, "gets": 3,
             "prefix_every": 20},
    "tiny": {"batches": 10, "entries": 5, "stale_every": 5, "get_every": 5, "gets": 1,
             "prefix_every": 10},
}
SIZES["warm"] = {**SIZES["full"], "batches": 10, "gets": 1, "prefix_every": 10}


class KvtCas:
    SIZES = SIZES
    uses_spark = True

    def __init__(self, seed: int, size: str, workdir: str, spark):
        self.spark = spark
        self.rng = random.Random(f"kvt-{seed}")
        self.cdf = zipf_cdf(N_KEYS)
        self.size = SIZES[size]
        self.workdir = workdir
        self.round_no = 0
        self.stored_bytes = 0
        self.user_bytes = 0

    def prepare_round(self) -> dict:
        from pravega_spark.kvt import KeyValueTable

        s = self.size
        root = os.path.join(self.workdir, f"kvt-{self.round_no}")
        self.round_no += 1
        table = KeyValueTable(self.spark, root, SCOPE, TABLE)
        batches = []
        for _ in range(s["batches"]):
            keys = kvt_keys(self.rng, self.cdf, s["entries"])
            batches.append([(k, kvt_value(self.rng)) for k in keys])
        gets = [key_name(zipf_draw(self.rng, self.cdf)) for _ in range(s["batches"] * s["gets"])]
        prefixes = [f"k{self.rng.randrange(N_KEYS // 100):02d}" for _ in range(s["batches"])]
        stale_picks = [self.rng.random() for _ in range(s["batches"])]
        return {"root": root, "table": table, "batches": batches, "gets": gets,
                "prefixes": prefixes, "stale_picks": stale_picks}

    def run_round(self, inputs: dict, ops) -> dict:
        from pravega_spark.errors import BadKeyVersionException
        from pravega_spark.kvt import MUST_NOT_EXIST

        s, table = self.size, inputs["table"]
        model: dict[str, tuple[str, int]] = {}
        versions, reads, stale_ok = [], [], 0
        gets, prefixes = iter(inputs["gets"]), iter(inputs["prefixes"])
        for b, batch in enumerate(inputs["batches"]):
            entries = [(k, "", v) for k, v in batch]
            expected = [model[k][1] if k in model else MUST_NOT_EXIST for k, _ in batch]
            stale = (b + 1) % s["stale_every"] == 0 and bool(model)
            if stale:
                # one entry carries an older version of a key the model holds
                victim = sorted(model)[int(inputs["stale_picks"][b] * len(model))]
                keep = [i for i, (k, _, _) in enumerate(entries) if k != victim][:len(entries) - 1]
                entries = [(victim, "", "stale")] + [entries[i] for i in keep]
                expected = [model[victim][1] - 1] + [expected[i] for i in keep]
            with ops.op("write", "write") as h:
                try:
                    version = table.update(entries, ["put"] * len(entries), expected)
                except BadKeyVersionException:
                    if not stale:
                        raise
                    stale_ok += 1
                else:
                    if stale:
                        raise CheckFailed(f"kvt_cas batch {b}: stale version was accepted")
                    h.events = len(entries)
            if not stale:
                versions.append(version)
                for k, _, v in entries:
                    model[k] = (v, version)
                self.user_bytes += sum(len(k) + len(v) for k, _, v in entries)
            if b + 1 == len(inputs["batches"]) // 2:
                # before this point's gets: the four get groups then see
                # distinct log sizes, and the read median falls between the
                # two middle groups, whose file counts are close
                with ops.op("compact", None):
                    table.compact()
            if (b + 1) % s["get_every"] == 0:
                for _ in range(s["gets"]):
                    key = next(gets)
                    with ops.op("read", "read") as h:
                        got = table.get(key)
                        h.events = 1
                    reads.append(("get", key, got, model.get(key)))
            if (b + 1) % s["prefix_every"] == 0:
                prefix = next(prefixes)
                with ops.op("iterate_prefix", None):
                    rows = table.iterate_prefix(prefix).collect()
                want = sorted((k, "", v, ver) for k, (v, ver) in model.items() if k.startswith(prefix))
                reads.append(("prefix", prefix, [tuple(r) for r in rows], want))
        return {"model": model, "versions": versions, "reads": reads, "stale_ok": stale_ok}

    def check_round(self, inputs: dict, out: dict) -> None:
        for kind, key, got, want in out["reads"]:
            if got != want:
                raise CheckFailed(f"kvt_cas {kind} {key!r}: engine {got!r}, model {want!r}")
        v = out["versions"]
        if any(b <= a for a, b in zip(v, v[1:])):
            raise CheckFailed("kvt_cas: versions do not rise strictly")
        snap = {r["pk"]: (r["value"], r["version"]) for r in inputs["table"].snapshot().collect()}
        if snap != out["model"]:
            raise CheckFailed("kvt_cas: final snapshot differs from the model")
        self.stored_bytes += tree_bytes(inputs["root"])
        shutil.rmtree(inputs["root"])
