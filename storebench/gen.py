"""Seeded input generators.

The engine receives only what these functions produce. Every input is a
pure function of the run's ``--seed`` and the round number, so the
checks can recompute any expected output without asking the engine.

``bulk_replay`` generates its events inside the JVM from ``spark.range``
ids. The key and payload length of an id come from integer arithmetic
that Spark SQL and Python evaluate identically (values stay below 2^63,
so ANSI overflow checks never fire), which gives the checks an exact
plain-Python twin of the JVM generator.
"""

from __future__ import annotations

import bisect
import hashlib
import random

ZIPF_S = 1.1


def zipf_cdf(n_keys: int, s: float = ZIPF_S) -> list[float]:
    weights = [1.0 / (i + 1) ** s for i in range(n_keys)]
    total = sum(weights)
    out, acc = [], 0.0
    for w in weights:
        acc += w / total
        out.append(acc)
    out[-1] = 1.0
    return out


def zipf_draw(rng: random.Random, cdf: list[float]) -> int:
    return bisect.bisect_left(cdf, rng.random())


def key_name(idx: int) -> str:
    return f"k{idx:04d}"


# ---------------- hot_pubsub ----------------

def hot_batches(rng: random.Random, cdf: list[float], writer: str,
                n_batches: int, batch_size: int) -> list[list[dict]]:
    """``n_batches`` append batches of ``batch_size`` events. A payload
    is ``<writer>:<seq>:`` followed by seeded random bytes, 896 to 1152
    bytes in all; seq numbers the writer's events from 0."""
    out, seq = [], 0
    for _ in range(n_batches):
        batch = []
        for _ in range(batch_size):
            head = f"{writer}:{seq}:".encode()
            size = rng.randint(896, 1152)
            batch.append({
                "routing_key": key_name(zipf_draw(rng, cdf)),
                "payload": head + rng.randbytes(size - len(head)),
            })
            seq += 1
        out.append(batch)
    return out


def parse_header(payload: bytes) -> tuple[str, int]:
    writer, seq, _ = payload.split(b":", 2)
    return writer.decode(), int(seq)


# ---------------- bulk_replay ----------------

_P = 2147483647  # 2^31 - 1
UNIT = 1_000_000  # ids of generation unit u are [u * UNIT, u * UNIT + n)
SLOTS = 4096


def bulk_params(seed: int, n_keys: int) -> dict:
    """Per-seed constants of the JVM generator: three hash offsets and
    a slot table whose entries are Zipf-drawn key indexes."""
    rng = random.Random(f"bulk-{seed}")
    cdf = zipf_cdf(n_keys)
    return {
        "c1": rng.randrange(1, _P),
        "c2": rng.randrange(1, _P),
        "c3": rng.randrange(1, _P),
        "slots": [zipf_draw(rng, cdf) for _ in range(SLOTS)],
    }


def bulk_key_len(params: dict, event_id: int) -> tuple[str, int]:
    """Python twin of :func:`bulk_frame`: (routing key, payload length)."""
    h1 = (event_id * 16807 + params["c1"]) % _P
    h2 = (h1 * 48271 + params["c2"]) % _P
    h3 = (h2 * 69621 + params["c3"]) % _P
    return key_name(params["slots"][h2 % SLOTS]), 64 + h3 % 449


def bulk_frame(spark, params: dict, unit: int, n: int, partitions: int):
    """Events ``unit * UNIT .. + n`` as a DataFrame built in the JVM:
    routing_key, event_time (= the id in microseconds, so any reader
    can recover the id) and a 64-512 byte hex payload."""
    from pyspark.sql import functions as F

    base = unit * UNIT
    h1 = F.pmod(F.col("id") * 16807 + F.lit(params["c1"]), F.lit(_P))
    h2 = F.pmod(h1 * 48271 + F.lit(params["c2"]), F.lit(_P))
    h3 = F.pmod(h2 * 69621 + F.lit(params["c3"]), F.lit(_P))
    # the slot table rides in ONE string literal of fixed-width key
    # names: an array literal would cost one py4j call per element
    width = len(key_name(0))
    table = "".join(key_name(i) for i in params["slots"])
    key = F.substring(F.lit(table), (F.pmod(h2, F.lit(SLOTS)) * width + 1).cast("int"),
                      F.lit(width))
    idstr = F.col("id").cast("string")
    text = F.concat(*[F.sha2(F.concat(idstr, F.lit(f".{i}")), 512) for i in range(4)])
    return spark.range(base, base + n, numPartitions=partitions).select(
        key.alias("routing_key"),
        F.timestamp_micros(F.col("id")).alias("event_time"),
        F.substring(text, 1, (F.lit(64) + F.pmod(h3, F.lit(449))).cast("int"))
        .cast("binary").alias("payload"),
    )


def segment_of(key: str, ranges: list[tuple[int, float, float]]) -> int:
    """Routing contract of the store, re-derived here: the first eight
    hex digits of md5(key) scaled to [0, 1), then the segment whose key
    range holds it."""
    h = int(hashlib.md5(key.encode()).hexdigest()[:8], 16) / float(1 << 32)
    for sid, lo, hi in sorted(ranges, key=lambda r: r[1]):
        if lo <= h < hi:
            return sid
    return max(ranges, key=lambda r: r[1])[0]


# ---------------- kvt_cas ----------------

def kvt_keys(rng: random.Random, cdf: list[float], count: int) -> list[str]:
    """``count`` distinct Zipf-drawn keys."""
    seen: dict[str, None] = {}
    while len(seen) < count:
        seen.setdefault(key_name(zipf_draw(rng, cdf)), None)
    return list(seen)


def kvt_value(rng: random.Random) -> str:
    return rng.randbytes(24).hex()
