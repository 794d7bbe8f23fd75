"""Key-Value Tables: partitioned, versioned KV store with CAS updates.

Reference surface (client/.../tables/KeyValueTable.java:119-216,
KeyValueTableImpl.java:57; server table segments
segmentstore/contracts/tables/TableStore.java:65-318):
  - update(Insert/Put/Remove[, expected Version]) → new Version (K1)
  - get/getAll/exists (K2)
  - iterators: all / forPrefix / forRange / forPrimaryKey (K3)
  - entryDeltaIterator from a position (K4)
  - compaction dropping superseded versions (TableCompactor.java:71)

Spark-native design: an append-only version log as Parquet partitioned
by ``bucket = hash(pk) % partition_count`` (the reference's
partitionCount), committed through a MANIFEST: data files are staged
under unique names and become visible only when the meta document —
which carries the file list AND the next version counter in one atomic
JSON write — lands. A crash between the parquet write and the meta
write leaves invisible orphans and an unconsumed version number, so
latest-version resolution (row_number over desc(version)) stays
deterministic and CAS checks can never observe a half-applied batch
(the same data+marker atomicity ``store.py _commit_rows`` provides for
streams). All file operations go through ``fsio`` so KVTs work on
object-store roots like the rest of the engine.

Point ops (``get``, ``get_all``, ``exists`` and the CAS read of a
conditional update) are driver-side Arrow key lookups, the
table-segment key index (ContainerKeyIndex.java) over Parquet: only
the keys' ``bucket=N/`` manifest entries are consulted, row groups whose
pk min/max statistics exclude every wanted key are skipped, and the
max-version row per key wins — no Spark job, so a table opened with
``spark=None`` serves point ops and updates up to ``KVT_HOT_MAX_ROWS``.
Like the reference's in-memory key cache in front of the table segment
(ContainerKeyIndex.java), a process-wide LRU (``row_cache``, bounded at
``ROW_CACHE_BYTES`` of Arrow data) keeps each row group already read, as
the Arrow table it was read into, and each file's per-row-group pk
ranges, keyed by the file's full path; a hot update also caches the
table it has just written. A warm lookup therefore opens no file it has
seen before, and its cost no longer grows with the files written since
the last ``compact()``. The cache pays off when lookups come back to
the row groups they read before (the same keys, or keys written in the
same batches) while those still fit the budget; a lookup that misses
reads and filters its row groups as an uncached one would, so traffic
without that locality pays only the bookkeeping and the evictions on
top. Nothing is
ever invalidated, because nothing cached can go stale: log files are
immutable and uuid-tagged, and the manifest reloaded from the meta doc
stays the only source of visibility, so a file that compaction or
``fsck`` removed is never asked for again and ages out of the LRU.
``snapshot()``, the iterators, the delta iterator and ``compact()``
resolve the latest version per key with a Spark window (max-version
row) over the whole log; ``compact()`` rewrites the log keeping only
live heads — the lakehouse MERGE/OPTIMIZE pattern replacing the
reference's hash-table segment + compactor. The version log doubles
as the change feed (delta iterator) for free.
"""

from __future__ import annotations

import functools
import os
import sys
import threading
import time
import uuid
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pravega_spark import fsio
from pravega_spark.config import KeyValueTableConfiguration
from pravega_spark.hashing import bucket_for_key_py, hash_to_bucket
from pravega_spark.errors import (
    BadKeyVersionException,
    ConcurrentModificationException,
    NoSuchKeyException,
)

# Version sentinels mirroring tables.Version.NO_VERSION / NOT_EXISTS
ANY_VERSION = -1
MUST_NOT_EXIST = -2

# Update batches at/below this row count commit driver-side via pyarrow
# (zero Spark jobs), mirroring the stream store's hot tier; larger
# batches take the distributed writer. KVT updates are the reference's
# millisecond client path (TableSegment appends), not an analytics job.
KVT_HOT_MAX_ROWS = int(os.environ.get("PRAVEGA_SPARK_KVT_HOT_MAX_ROWS", "100000"))

_LOG_COLUMNS = ["pk", "sk", "value", "version", "deleted"]

# Byte budget of the process-wide row-group cache of the point path,
# counted as the Arrow buffer bytes of the row groups it holds: about
# four of the largest hot batches (KVT_HOT_MAX_ROWS rows of short keys
# and values take some 7 MiB), and the most the cache adds to a process
ROW_CACHE_BYTES = 32 << 20


class RowGroupCache:
    """Byte-bounded LRU of log rows as read, Arrow tables: one row group
    under ``(path, i)``, a whole file its writer cached under ``(path,)``,
    and file summaries (each row group's pk ``(lo, hi)``) under ``path``.
    An entry larger than the whole budget is not kept. ``hits`` and
    ``misses`` count the row groups lookups took from memory and read
    from their files."""

    def __init__(self, budget: int):
        self.budget = budget
        self.held = 0
        self.hits = self.misses = 0
        self._entries: OrderedDict = OrderedDict()  # key -> (value, bytes)
        self._mu = threading.Lock()

    def get(self, key):
        with self._mu:
            hit = self._entries.get(key)
            if hit is None:
                return None
            self._entries.move_to_end(key)
            return hit[0]

    def put(self, key, value, nbytes: int) -> None:
        if nbytes > self.budget:
            return
        with self._mu:
            old = self._entries.pop(key, None)
            if old is not None:
                self.held -= old[1]
            self._entries[key] = (value, nbytes)
            self.held += nbytes
            while self.held > self.budget:
                _, (_, n) = self._entries.popitem(last=False)
                self.held -= n

    def tally(self, hits: int, misses: int) -> None:
        with self._mu:
            self.hits += hits
            self.misses += misses

    def clear(self) -> None:
        with self._mu:
            self._entries.clear()
            self.held = 0


row_cache = RowGroupCache(ROW_CACHE_BYTES)


@functools.cache
def _log_schema():
    import pyarrow as pa

    return pa.schema([
        ("pk", pa.string()), ("sk", pa.string()), ("value", pa.string()),
        ("version", pa.int64()), ("deleted", pa.bool_()),
    ])


def _summary_bytes(ranges: list) -> int:
    size = sys.getsizeof
    return size(ranges) + sum(size(r) + size(r[0]) + size(r[1]) for r in ranges)


def _file_tables(path: str, pks: set[str], value_set):
    """Yield Arrow tables holding every row of one log file whose pk is
    in ``pks``: the whole file when its writer cached it, else each row
    group whose pk range may hold one of ``pks``. Cached ones come from
    ``row_cache`` whole. The others are read one at a time, cached as
    read, and cut to ``value_set`` (the wanted pks) before they are
    yielded, as an uncached lookup cut them, so a lookup holds at most
    one uncached row group beyond its matches. A file whose summary is
    cached is opened only when one of its wanted row groups is not."""
    import pyarrow.compute as pc

    whole = row_cache.get((path,))  # the rows its writer cached
    if whole is not None:
        row_cache.tally(1, 0)
        yield whole
        return

    def wanted(lo, hi) -> bool:
        return lo is None or any(lo <= pk <= hi for pk in pks)

    ranges = row_cache.get(path)
    if ranges is not None:
        hits = [row_cache.get((path, i)) for i, (lo, hi) in enumerate(ranges) if wanted(lo, hi)]
        if all(t is not None for t in hits):
            row_cache.tally(len(hits), 0)
            yield from hits
            return
    footer: list[tuple] = []
    hits = []

    def keep(i, lo, hi) -> bool:
        footer.append((lo, hi))
        if not wanted(lo, hi):
            return False
        t = row_cache.get((path, i))
        if t is not None:
            hits.append(t)
        return t is None

    misses = 0
    for i, _lo, _hi, t in fsio.parquet_row_groups(path, "pk", keep, _LOG_COLUMNS):
        misses += 1
        if not t.schema.equals(_log_schema()):  # one schema for the lookup's concat
            t = t.select(_LOG_COLUMNS).cast(_log_schema())
        row_cache.put((path, i), t, t.get_total_buffer_size())
        yield t.filter(pc.is_in(t["pk"], value_set=value_set))
    yield from hits
    row_cache.tally(len(hits), misses)
    row_cache.put(path, footer, _summary_bytes(footer))


def _key(pk: str, sk: str | None) -> tuple[str, str]:
    """The stored form of a key: a ``None`` secondary key is ``""``, on
    writes and point reads alike, so both name one logical key."""
    return pk, sk if sk is not None else ""


class KeyValueTable:
    """One KVT instance rooted at ``<root>/kvt/<scope>/<name>``."""

    def __init__(self, spark: SparkSession, root: str, scope: str, name: str,
                 config: KeyValueTableConfiguration | None = None):
        self.spark = spark
        self.scope, self.name = scope, name
        self.path = fsio.join(root, "kvt", scope, name)
        self.meta_path = fsio.join(self.path, "_kvt_meta.json")
        self.data_path = fsio.join(self.path, "log")
        doc = fsio.read_json(self.meta_path, None)
        # True when THIS open created the table (CLI reports it so
        # scripts can detect already-exists — r7 ADVICE fix)
        self.was_created = doc is None
        if doc is not None:
            self.config = KeyValueTableConfiguration(**doc["config"])
            self._next_version = doc["next_version"]
            self._meta_version = doc.get("version", 0)
            self._files = list(doc["files"])
        else:
            self.config = config or KeyValueTableConfiguration()
            self._next_version = 1
            self._meta_version = 0
            self._files = []
            self._save_meta()

    def _list_data_files(self) -> set[str]:
        return {
            f
            for f in fsio.list_files_recursive(self.data_path)
            if f.endswith(".parquet") and not os.path.basename(f).startswith(("_", "."))
        }

    def _reload_meta(self) -> None:
        """Adopt the latest committed state (files + version counter) —
        called under the table lock so cross-process instances serialize
        their CAS checks against fresh state, not a stale cache."""
        doc = fsio.read_json(self.meta_path, None)
        if doc is not None:
            self._next_version = doc["next_version"]
            self._meta_version = doc.get("version", 0)
            self._files = list(doc["files"])

    def _lock(self):
        # heartbeat-renewed lease lock: a multi-second Spark job inside
        # the locked section never outlives its lease just for being slow
        return fsio.locked(fsio.join(self.path, "commit.lock"))

    def _save_meta(self) -> None:
        """The single atomic commit point: file manifest + version
        counter, written CONDITIONALLY on the doc version loaded at
        ``_reload_meta`` — a fenced-out holder (lease reaped during a
        pause) fails here instead of clobbering another process's commit
        (same protocol as ``MetadataStore.put_segments_doc``)."""
        current = fsio.read_json(self.meta_path, None)
        stored = current.get("version", 0) if current is not None else 0
        if current is not None and stored != self._meta_version:
            raise ConcurrentModificationException(
                f"kvt {self.scope}/{self.name} meta at version {stored}, "
                f"expected {self._meta_version} — concurrent commit won"
            )
        self._meta_version += 1
        fsio.write_json_atomic(
            self.meta_path,
            {
                "config": self.config.__dict__,
                "version": self._meta_version,
                "next_version": self._next_version,
                "files": sorted(self._files),
                "updated": time.time(),
            },
        )

    # ---------------- write path (K1) ----------------
    def _log(self) -> DataFrame | None:
        # always adopt the latest committed manifest: reads must see
        # other processes' commits (reference gets are server-side and
        # always current), and the meta doc is one small JSON read
        self._reload_meta()
        if not self._files:
            return None
        return self.spark.read.option("basePath", self.data_path).parquet(
            *[fsio.join(self.data_path, f) for f in self._files]
        )

    def _latest(self) -> DataFrame | None:
        log = self._log()
        if log is None:
            return None
        w = Window.partitionBy("pk", "sk").orderBy(F.desc("version"))
        return log.withColumn("_rk", F.row_number().over(w)).filter(F.col("_rk") == 1).drop("_rk")

    def update(self, entries: list[tuple], kinds: list[str], expected_versions: list[int] | None = None) -> int:
        """Atomic batch of Insert/Put/Remove modifications (one commit).

        ``entries`` = [(pk, sk, value)] (value ignored for Remove);
        ``kinds`` ∈ {insert, put, remove}; ``expected_versions`` aligns
        with entries (ANY_VERSION = unconditional, MUST_NOT_EXIST =
        insert-only). Raises BadKeyVersionException / NoSuchKeyException
        and commits nothing on conditional failure — matching the
        reference's all-or-nothing batch (KeyValueTable.java:173).
        Returns the version assigned to this batch.
        """
        with self._lock():
            self._reload_meta()  # serialize CAS against other processes
            return self._update_locked(entries, kinds, expected_versions)

    def _update_locked(self, entries: list[tuple], kinds: list[str],
                       expected_versions: list[int] | None = None) -> int:
        # one entry per key, the last one named: two rows of one key in
        # a batch would share its version and leave the winner to chance
        batch: dict[tuple[str, str], tuple] = {}
        for (pk, sk, value), kind, exp in zip(
            entries, kinds, expected_versions or [ANY_VERSION] * len(entries)
        ):
            batch[_key(pk, sk)] = (value, kind, exp)
        # unconditional puts need no key-index lookup (the reference's
        # unconditional TableSegment update skips ContainerKeyIndex's
        # bucket-offset resolution, ContainerKeyIndex.java) — the CAS
        # read only runs when some entry is conditional, an insert, or
        # a remove (absent-key removes are no-ops, which needs current);
        # it reads the manifest update() just reloaded under the lock
        needs_cas = any(kind != "put" or exp != ANY_VERSION for _, kind, exp in batch.values())
        current = self._point_lookup(batch) if needs_cas else {}
        version = self._next_version
        rows = []
        for (pk, sk), (value, kind, exp) in batch.items():
            cur = current[(pk, sk)][1] if (pk, sk) in current else None
            if kind == "insert" or exp == MUST_NOT_EXIST:
                if cur is not None:
                    raise BadKeyVersionException(f"key {pk!r}/{sk!r} exists at version {cur}")
            elif exp != ANY_VERSION:
                if cur is None:
                    raise NoSuchKeyException(f"key {pk!r}/{sk!r} does not exist")
                if cur != exp:
                    raise BadKeyVersionException(f"key {pk!r}/{sk!r}: expected {exp}, found {cur}")
            if kind == "remove" and cur is None and exp == ANY_VERSION:
                # removing an absent key unconditionally is a no-op in the
                # reference; keep the tombstone out of the log (a phantom
                # tombstone would surface a delete event for a key that
                # never existed in entry_delta_iterator)
                continue
            rows.append({
                "pk": pk,
                "sk": sk,
                "value": value if kind != "remove" else None,
                "version": version,
                "deleted": kind == "remove",
            })
        if not rows:
            # a batch of pure no-ops mutates nothing: no version burned,
            # no file committed
            return self._next_version - 1
        n_buckets = self.config.partition_count
        tag = uuid.uuid4().hex[:8]
        if len(rows) <= KVT_HOT_MAX_ROWS:
            # hot path: per-bucket pyarrow writes, zero Spark jobs —
            # file schema identical to the distributed writer's
            new_files = self._write_rows_hot(rows, version, tag, n_buckets)
        else:
            df = self.spark.createDataFrame(
                rows, "pk string, sk string, value string, version long, deleted boolean"
            ).withColumn("bucket", hash_to_bucket("pk", n_buckets))
            # stage → move under unique names → manifest flip (atomic commit)
            tmp = f"{self.data_path}.commit.{tag}"
            df.write.mode("overwrite").partitionBy("bucket").parquet(tmp)
            new_files = []
            for rel in sorted(
                f for f in fsio.list_files_recursive(tmp)
                if f.endswith(".parquet") and not os.path.basename(f).startswith(("_", "."))
            ):
                part = rel.split(os.sep, 1)[0]
                if not part.startswith("bucket="):
                    continue
                dst_rel = os.path.join(part, f"v{version}-{tag}-{os.path.basename(rel)}")
                fsio.move(fsio.join(tmp, rel), fsio.join(self.data_path, dst_rel))
                new_files.append(dst_rel)
            fsio.rmtree(tmp)
        self._files = sorted(self._files + new_files)
        self._next_version = version + 1
        self._save_meta()  # data + version become visible together
        return version

    def _write_rows_hot(self, rows: list[dict], version: int, tag: str,
                        n_buckets: int) -> list[str]:
        """Driver-side commit of a small update batch: bucket routing
        via the scalar twin of the JVM hash, one parquet file per
        touched bucket, exactly the columns/types the Spark writer
        produces (bucket rides in the partition dir, not the file)."""
        import pyarrow as pa

        schema = _log_schema()
        by_bucket: dict[int, list[dict]] = {}
        for r in rows:
            by_bucket.setdefault(bucket_for_key_py(r["pk"], n_buckets), []).append(r)
        out: list[str] = []
        for b, rs in sorted(by_bucket.items()):
            rel = os.path.join(f"bucket={b}", f"v{version}-{tag}-hot.parquet")
            path = fsio.join(self.data_path, rel)
            t = pa.Table.from_pylist(rs, schema=schema)
            fsio.parquet_write_table(t, path)
            # the next CAS read would read these rows straight back: cache
            # them whole-file, which holds whatever row groups the writer made
            row_cache.put((path,), t, t.get_total_buffer_size())
            out.append(rel)
        return out

    def insert(self, pk: str, value: str, sk: str = "") -> int:
        return self.update([(pk, sk, value)], ["insert"])

    def put(self, pk: str, value: str, sk: str = "", expected_version: int = ANY_VERSION) -> int:
        return self.update([(pk, sk, value)], ["put"], [expected_version])

    def remove(self, pk: str, sk: str = "", expected_version: int = ANY_VERSION) -> int:
        return self.update([(pk, sk, None)], ["remove"], [expected_version])

    # ---------------- read path (K2/K3/K4) ----------------
    def snapshot(self) -> DataFrame:
        """Latest live entries as a DataFrame (the MERGE result)."""
        latest = self._latest()
        if latest is None:
            return self.spark.createDataFrame([], "pk string, sk string, value string, version long")
        return latest.filter(~F.col("deleted")).select("pk", "sk", "value", "version")

    def _point_lookup(self, keys) -> dict[tuple[str, str], tuple[str, int]]:
        """Latest live ``(value, version)`` of each stored-form key in
        ``keys``, read driver-side from the manifest as last loaded (the
        table-segment key-index lookup, ContainerKeyIndex.java). Consults
        only the keys' ``bucket=N/`` files — the bucket is the writers'
        own hash — and skips row groups whose pk statistics exclude every
        wanted key. Row groups and per-file pk ranges already read or
        written come from ``row_cache`` (the module docstring says why it
        needs no invalidation); the others are read one at a time, as
        before the cache, and cached. All of them are then cut to the
        wanted pks in one Arrow filter, so only matching rows are ever
        decoded, cached or not. Absent and removed keys are left out."""
        import pyarrow as pa
        import pyarrow.compute as pc

        want = set(keys)
        pks_by_bucket: dict[str, set[str]] = {}
        for pk, _ in want:
            b = bucket_for_key_py(pk, self.config.partition_count)
            pks_by_bucket.setdefault(f"bucket={b}", set()).add(pk)
        value_set = pa.array(sorted({pk for pk, _ in want}), pa.string())
        parts = []
        for rel in self._files:
            pks = pks_by_bucket.get(rel.split(os.sep, 1)[0])
            if pks:
                parts.extend(_file_tables(fsio.join(self.data_path, rel), pks, value_set))
        if not parts:
            return {}
        t = pa.concat_tables(parts)
        t = t.filter(pc.is_in(t["pk"], value_set=value_set))
        best: dict[tuple[str, str], tuple] = {}
        for pk, sk, value, version, deleted in zip(*(t[c].to_pylist() for c in _LOG_COLUMNS)):
            k = (pk, sk)
            if k in want and (k not in best or version > best[k][1]):
                best[k] = (value, version, deleted)
        return {k: (value, version) for k, (value, version, deleted) in best.items() if not deleted}

    def get(self, pk: str, sk: str = "") -> tuple[str, int] | None:
        self._reload_meta()  # reads see other processes' commits
        return self._point_lookup([_key(pk, sk)]).get(_key(pk, sk))

    def get_all(self, keys: list[tuple[str, str]]) -> dict[tuple[str, str], tuple[str, int]]:
        """Present keys only, each under the key as the caller named it."""
        self._reload_meta()
        found = self._point_lookup({_key(pk, sk) for pk, sk in keys})
        return {(pk, sk): found[_key(pk, sk)] for pk, sk in keys if _key(pk, sk) in found}

    def exists(self, pk: str, sk: str = "") -> bool:
        return self.get(pk, sk) is not None

    def iterate_all(self) -> DataFrame:
        return self.snapshot().orderBy("pk", "sk")

    def iterate_prefix(self, prefix: str) -> DataFrame:
        return self.snapshot().filter(F.col("pk").startswith(prefix)).orderBy("pk", "sk")

    def iterate_range(self, from_pk: str, to_pk: str) -> DataFrame:
        return (
            self.snapshot()
            .filter((F.col("pk") >= from_pk) & (F.col("pk") < to_pk))
            .orderBy("pk", "sk")
        )

    def iterate_primary_key(self, pk: str, sk_from: str | None = None, sk_to: str | None = None) -> DataFrame:
        df = self.snapshot().filter(F.col("pk") == pk)
        if sk_from is not None:
            df = df.filter(F.col("sk") >= sk_from)
        if sk_to is not None:
            df = df.filter(F.col("sk") < sk_to)
        return df.orderBy("sk")

    def entry_delta_iterator(self, from_version: int = 0) -> DataFrame:
        """Change feed: every modification (incl. tombstones) after a
        position (TableStore.entryDeltaIterator:311)."""
        log = self._log()
        if log is None:
            return self.spark.createDataFrame(
                [], "pk string, sk string, value string, version long, deleted boolean"
            )
        return (
            log.filter(F.col("version") > from_version)
            .select("pk", "sk", "value", "version", "deleted")
            .orderBy("version", "pk", "sk")
        )

    # ---------------- maintenance ----------------
    def compact(self) -> None:
        """Drop superseded versions + tombstones (TableCompactor.java:71):
        rewrite the log keeping only the live head per key, manifest-safe
        (readers see the old or the new file set, never neither)."""
        with self._lock():
            self._reload_meta()
            self._compact_locked()

    def _compact_locked(self) -> None:
        snap = self.snapshot()
        tag = uuid.uuid4().hex[:8]
        tmp = f"{self.data_path}.compact.{tag}"
        (
            snap.withColumn("deleted", F.lit(False))
            .withColumn("bucket", hash_to_bucket("pk", self.config.partition_count))
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(tmp)
        )
        new_files: list[str] = []
        for rel in sorted(
            f for f in fsio.list_files_recursive(tmp)
            if f.endswith(".parquet") and not os.path.basename(f).startswith(("_", "."))
        ):
            part = rel.split(os.sep, 1)[0]
            if not part.startswith("bucket="):
                continue
            dst_rel = os.path.join(part, f"compact-{tag}-{os.path.basename(rel)}")
            fsio.move(fsio.join(tmp, rel), fsio.join(self.data_path, dst_rel))
            new_files.append(dst_rel)
        fsio.rmtree(tmp)
        old_files = self._files
        self._files = sorted(new_files)
        self._save_meta()  # visibility flip
        for rel in old_files:  # now-invisible originals
            fsio.remove(fsio.join(self.data_path, rel))

    def fsck(self) -> list[str]:
        """Reap orphan parquet files from crashed commits/compactions.

        Takes the table lock and re-reads the committed manifest first:
        reaping against this instance's cached ``_files`` would delete
        files other processes committed since we last loaded the meta
        doc (and the lock keeps a concurrent commit's staged-but-not-
        yet-published files from being swept mid-flight — KVT commits
        stage and publish entirely under the lock)."""
        with self._lock():
            self._reload_meta()
            orphans = sorted(self._list_data_files() - set(self._files))
            for rel in orphans:
                fsio.remove(fsio.join(self.data_path, rel))
            return orphans


class KeyValueTableManager:
    """KVT DDL (reference: KeyValueTableManager.java / D8)."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    def create_key_value_table(self, scope: str, name: str,
                               config: KeyValueTableConfiguration | None = None) -> KeyValueTable:
        return KeyValueTable(self.spark, self.root, scope, name, config)

    def open(self, scope: str, name: str) -> KeyValueTable:
        return KeyValueTable(self.spark, self.root, scope, name)

    def list_key_value_tables(self, scope: str) -> list[str]:
        d = fsio.join(self.root, "kvt", scope)
        if not fsio.isdir(d):
            return []
        # a KVT exists iff its meta doc does; derive names from file paths
        names = {
            rel.split(os.sep, 1)[0]
            for rel in fsio.list_files_recursive(d)
            if os.sep in rel and rel.split(os.sep, 1)[1].startswith("_kvt_meta.json")
        }
        return sorted(names)

    def delete_key_value_table(self, scope: str, name: str) -> bool:
        p = fsio.join(self.root, "kvt", scope, name)
        if fsio.isdir(p):
            fsio.rmtree(p)
            return True
        return False
