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
table it has just written. A
warm lookup therefore opens no file it has seen before, and its cost no
longer grows with the files written since the last ``compact()``. The
cache pays off when lookups come back to the row groups they read
before (the same keys, or keys written in the same batches) while those
still fit the budget; a lookup that misses reads and filters its row
groups as an uncached one would, so traffic without that locality pays
only the bookkeeping and the evictions on top. Nothing is ever
invalidated, because nothing cached can go stale: log files are
immutable and uuid-tagged, and the manifest reloaded from the meta doc
stays the only source of visibility, so a file that compaction or
``fsck`` removed is never asked for again and ages out of the LRU.

Scans (``snapshot()``, the four iterators, the delta iterator) and
``compact()`` run in Arrow on the driver too, as the reference serves
its iterators and compaction inside the segment store
(TableStore.java:268,286, TableCompactor.java:71), as long as the log
rows they read are bounded: ``_read_log`` adds up the decoded Arrow
bytes of the row groups as it reads them, through ``row_cache`` like a
lookup (a warm scan opens no file it has read), and gives up once they
pass ``ROW_CACHE_BYTES``. Decoded bytes, not parquet sizes: dictionary
encoding stores a repeated value once, so many keys sharing one large
value are small on disk and large in memory. A scan keeps the
max-version row per ``(pk, sk)`` (a null ``sk``, as old files hold, is
a key of its own, as in the Spark window), drops tombstones and applies
its predicate in Arrow; row groups whose pk range its predicate
excludes are not read or counted, and ``iterate_primary_key`` reads
only the pk's bucket. The sort and filters copy the rows read, so the
driver's extra memory is a small multiple of the bound: measured on a
4-vCPU VM, a 31 MiB log took the driver's RSS up by about 125 MiB for
a prefix scan and 140 MiB for a compaction (0.3–0.5 s), where the Spark
path took 5 s and raised the JVM's peak RSS by 0.9 GB or more.
DataFrame results are ``createDataFrame`` over the sorted Arrow table,
a local relation that runs no Spark job, and the ``*_arrow`` twins
return the table itself, so a table opened with ``spark=None`` (the
CLI's) serves every op while it stays bounded. Compaction resolves every
bucket before it writes one file per bucket, the bucket's live heads,
under the same lock → write → meta flip → remove-originals order as the
distributed writer. Above the bound, both run as Spark jobs, after the
Arrow read has spent up to the bound's bytes finding that out: the
latest version per key is a window (max-version row) over the whole
log, and ``compact()`` rewrites it through the distributed writer — the
lakehouse MERGE/OPTIMIZE pattern in place of the reference's hash-table
segment and compactor. The version log doubles as the change feed
(delta iterator) for free.
"""

from __future__ import annotations

import functools
import os
import sys
import threading
import time
import uuid
from collections import OrderedDict
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pravega_spark import fsio
from pravega_spark.config import KeyValueTableConfiguration
from pravega_spark.hashing import bucket_for_key_py, hash_to_bucket
from pravega_spark.errors import (
    BadKeyVersionException,
    ConcurrentModificationException,
    NoSuchKeyException,
    SparkRequiredException,
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
_ENTRY_DDL = "pk string, sk string, value string, version long"
_DELTA_DDL = _ENTRY_DDL + ", deleted boolean"

# Byte budget of the process-wide row-group cache of the point path,
# counted as the Arrow buffer bytes of the row groups it holds: about
# four of the largest hot batches (KVT_HOT_MAX_ROWS rows of short keys
# and values take some 7 MiB), and the most the cache adds to a process.
# It is also the driver-side bound of scans and compaction: a scan whose
# log rows take at most this many Arrow bytes, counted as they are read,
# is resolved in Arrow, a larger one by Spark.
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


def _file_tables(path: str, wanted, value_set=None):
    """Yield Arrow tables holding every row of one log file in a row
    group whose pk range ``wanted(lo, hi)`` accepts (a row group without
    pk statistics is always wanted): the whole file when its writer
    cached it, else each wanted row group. Cached ones come from
    ``row_cache`` whole. The others are read one at a time, cached as
    read, and, given a ``value_set`` of pks, cut to those pks before
    they are yielded, as an uncached lookup cut them, so a lookup holds
    at most one uncached row group beyond its matches. A file whose
    summary is cached is opened only when one of its wanted row groups
    is not."""
    import pyarrow.compute as pc

    whole = row_cache.get((path,))  # the rows its writer cached
    if whole is not None:
        row_cache.tally(1, 0)
        yield whole
        return

    def keep(lo, hi) -> bool:
        return lo is None or wanted(lo, hi)

    ranges = row_cache.get(path)
    if ranges is not None:
        hits = [row_cache.get((path, i)) for i, (lo, hi) in enumerate(ranges) if keep(lo, hi)]
        if all(t is not None for t in hits):
            row_cache.tally(len(hits), 0)
            yield from hits
            return
    footer: list[tuple] = []
    hits = []

    def read(i, lo, hi) -> bool:
        footer.append((lo, hi))
        if not keep(lo, hi):
            return False
        t = row_cache.get((path, i))
        if t is not None:
            hits.append(t)
        return t is None

    misses = 0
    for i, _lo, _hi, t in fsio.parquet_row_groups(path, "pk", read, _LOG_COLUMNS):
        misses += 1
        if not t.schema.equals(_log_schema()):  # one schema for the caller's concat
            t = t.select(_LOG_COLUMNS).cast(_log_schema())
        row_cache.put((path, i), t, t.get_total_buffer_size())
        yield t if value_set is None else t.filter(pc.is_in(t["pk"], value_set=value_set))
    yield from hits
    row_cache.tally(len(hits), misses)
    row_cache.put(path, footer, _summary_bytes(footer))


def _live_heads(t):
    """The max-version row of each ``(pk, sk)`` among log rows ``t``,
    tombstones dropped, sorted by ``(pk, sk)`` with nulls first (Spark's
    ascending order): the Spark window's
    ``row_number() == 1`` over ``desc(version)`` (a key's versions are
    distinct), as an Arrow sort and a neighbour compare."""
    import pyarrow as pa
    import pyarrow.compute as pc

    t = t.sort_by([("pk", "ascending"), ("sk", "ascending"), ("version", "descending")],
                  null_placement="at_start")
    if t.num_rows > 1:
        pk, sk = t["pk"].combine_chunks(), t["sk"].combine_chunks()
        first = pc.or_(_distinct(pk[1:], pk[:-1]), _distinct(sk[1:], sk[:-1]))
        t = t.filter(pa.concat_arrays([pa.array([True]), first]))
    return t.filter(pc.invert(t["deleted"]))


def _distinct(a, b):
    """``a IS DISTINCT FROM b``, elementwise: a null equals a null and no
    other value, as in the Spark window's partitioning, so log rows
    written with a null ``sk`` form a key of their own."""
    import pyarrow.compute as pc

    return pc.or_(pc.xor(pc.is_null(a), pc.is_null(b)), pc.fill_null(pc.not_equal(a, b), False))


def _any_pk(lo, hi) -> bool:
    return True


class _Scan(NamedTuple):
    """One latest-entries scan, in both engines. ``keep(lo, hi)``: may a
    row group of that pk range hold a match; ``arrow(t)``: the matching
    rows of an Arrow table as a mask, ``spark()``: the same match as a
    Spark column (``None``: every row); ``order``: the Spark path's sort
    (the Arrow path always returns ``(pk, sk)`` order, which every
    ``order`` agrees with); ``bucket``: the one ``bucket=N`` directory
    that holds every match, when there is one."""
    keep: Callable = _any_pk
    arrow: Callable | None = None
    spark: Callable | None = None
    order: tuple = ("pk", "sk")
    bucket: str | None = None


def _prefix_scan(prefix: str) -> _Scan:
    import pyarrow.compute as pc

    return _Scan(
        # a pk starting with prefix lies in [prefix, the next string
        # without it); it meets [lo, hi] unless hi is below prefix or lo
        # is past every such pk
        keep=lambda lo, hi: hi >= prefix and (lo < prefix or lo.startswith(prefix)),
        arrow=lambda t: pc.starts_with(t["pk"], prefix),
        spark=lambda: F.col("pk").startswith(prefix),
    )


def _range_scan(from_pk: str, to_pk: str) -> _Scan:
    import pyarrow.compute as pc

    return _Scan(
        keep=lambda lo, hi: hi >= from_pk and lo < to_pk,
        arrow=lambda t: pc.and_(pc.greater_equal(t["pk"], from_pk), pc.less(t["pk"], to_pk)),
        spark=lambda: (F.col("pk") >= from_pk) & (F.col("pk") < to_pk),
    )


def _primary_key_scan(pk: str, sk_from: str | None, sk_to: str | None, bucket: str) -> _Scan:
    import pyarrow.compute as pc

    def arrow(t):
        mask = pc.equal(t["pk"], pk)
        if sk_from is not None:
            mask = pc.and_(mask, pc.greater_equal(t["sk"], sk_from))
        if sk_to is not None:
            mask = pc.and_(mask, pc.less(t["sk"], sk_to))
        return mask

    def spark():
        col = F.col("pk") == pk
        if sk_from is not None:
            col = col & (F.col("sk") >= sk_from)
        if sk_to is not None:
            col = col & (F.col("sk") < sk_to)
        return col

    return _Scan(keep=lambda lo, hi: lo <= pk <= hi, arrow=arrow, spark=spark,
                 order=("sk",), bucket=bucket)


def _parquet_files(path: str) -> list[str]:
    """The data files under ``path``, relative to it, sorted: parquet
    files that are not writer side files (``_SUCCESS``, ``.crc``)."""
    return sorted(
        f for f in fsio.list_files_recursive(path)
        if f.endswith(".parquet") and not os.path.basename(f).startswith(("_", "."))
    )


def _key(pk: str, sk: str | None) -> tuple[str, str]:
    """The stored form of a key: a ``None`` secondary key is ``""``, on
    writes and point reads alike, so both name one logical key."""
    return pk, sk if sk is not None else ""


class KeyValueTable:
    """One KVT instance rooted at ``<root>/kvt/<scope>/<name>``.

    ``spark`` may be ``None``: point ops, hot updates, ``compact()`` and
    the ``*_arrow`` scan twins then run driver-side while the table stays
    within the bounds the module docstring names; past them, and for the
    DataFrame-returning scans, the table raises
    ``SparkRequiredException``."""

    def __init__(self, spark: SparkSession | None, root: str, scope: str, name: str,
                 config: KeyValueTableConfiguration | None = None):
        self.spark = spark
        self.scope, self.name = scope, name
        self.path = fsio.join(root, "kvt", scope, name)
        self.meta_path = fsio.join(self.path, "_kvt_meta.json")
        self.data_path = fsio.join(self.path, "log")
        doc = fsio.read_json(self.meta_path, None)
        # True when THIS open created the table (the CLI reports it, so
        # scripts can tell a new table from an existing one)
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
        return set(_parquet_files(self.data_path))

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

    def _spark_for(self, what: str) -> SparkSession:
        if self.spark is None:
            raise SparkRequiredException(
                f"kvt {self.scope}/{self.name}: {what} needs a SparkSession; "
                "this table was opened with spark=None"
            )
        return self.spark

    # ---------------- write path (K1) ----------------
    def _log(self) -> DataFrame | None:
        # always adopt the latest committed manifest: reads must see
        # other processes' commits (reference gets are server-side and
        # always current), and the meta doc is one small JSON read
        self._reload_meta()
        if not self._files:
            return None
        return self._log_frame(self._files)

    def _log_frame(self, rels: list[str]) -> DataFrame:
        return self.spark.read.option("basePath", self.data_path).parquet(
            *[fsio.join(self.data_path, f) for f in rels]
        )

    def _read_log(self, rels: list[str], keep=_any_pk, bound: int | None = None):
        """The log rows of ``rels`` as one Arrow table, read through
        ``row_cache``, leaving out row groups whose pk range ``keep``
        rejects; ``None`` once the Arrow bytes read pass ``bound``
        (``ROW_CACHE_BYTES`` by default), which leaves the rest unread.
        The bytes are the decoded buffers, not the parquet sizes: a value
        that dictionary encoding stores once counts once per row."""
        import pyarrow as pa

        bound = ROW_CACHE_BYTES if bound is None else bound
        parts, held = [], 0
        for rel in rels:
            for t in _file_tables(fsio.join(self.data_path, rel), keep):
                held += t.get_total_buffer_size()
                if held > bound:
                    return None
                parts.append(t)
        return pa.concat_tables(parts) if parts else _log_schema().empty_table()

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
        tag = uuid.uuid4().hex[:8]
        if len(rows) <= KVT_HOT_MAX_ROWS:
            # hot path: per-bucket pyarrow writes, zero Spark jobs —
            # file schema identical to the distributed writer's
            new_files = self._write_rows_hot(rows, version, tag)
        else:
            df = self._spark_for(f"an update of more than {KVT_HOT_MAX_ROWS} rows") \
                .createDataFrame(rows, _DELTA_DDL)
            new_files = self._write_spark(df, f"v{version}-{tag}")
        self._files = sorted(self._files + new_files)
        self._next_version = version + 1
        self._save_meta()  # data + version become visible together
        return version

    def _write_rows_hot(self, rows: list[dict], version: int, tag: str) -> list[str]:
        """Driver-side commit of a small update batch: bucket routing
        via the scalar twin of the JVM hash, one parquet file per
        touched bucket, exactly the columns/types the Spark writer
        produces (bucket rides in the partition dir, not the file)."""
        import pyarrow as pa

        n_buckets = self.config.partition_count
        by_bucket: dict[int, list[dict]] = {}
        for r in rows:
            by_bucket.setdefault(bucket_for_key_py(r["pk"], n_buckets), []).append(r)
        out: list[str] = []
        for b, rs in sorted(by_bucket.items()):
            rel = os.path.join(f"bucket={b}", f"v{version}-{tag}-hot.parquet")
            path = fsio.join(self.data_path, rel)
            t = pa.Table.from_pylist(rs, schema=_log_schema())
            fsio.parquet_write_table(t, path)
            # the next CAS read would read these rows straight back: cache
            # them whole-file, which holds whatever row groups the writer made
            row_cache.put((path,), t, t.get_total_buffer_size())
            out.append(rel)
        return out

    def _write_spark(self, df: DataFrame, prefix: str) -> list[str]:
        """The distributed writer: stage ``df`` partitioned by bucket in
        a directory beside the log, move each ``bucket=N`` file into the
        log as ``bucket=N/<prefix>-<file name>`` and return those paths,
        relative to the log, for the caller's manifest flip."""
        tmp = f"{self.data_path}.stage.{prefix}"
        (
            df.withColumn("bucket", hash_to_bucket("pk", self.config.partition_count))
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(tmp)
        )
        new_files: list[str] = []
        for rel in _parquet_files(tmp):
            part = rel.split(os.sep, 1)[0]
            if part.startswith("bucket="):
                dst_rel = os.path.join(part, f"{prefix}-{os.path.basename(rel)}")
                fsio.move(fsio.join(tmp, rel), fsio.join(self.data_path, dst_rel))
                new_files.append(dst_rel)
        fsio.rmtree(tmp)
        return new_files

    def insert(self, pk: str, value: str, sk: str = "") -> int:
        return self.update([(pk, sk, value)], ["insert"])

    def put(self, pk: str, value: str, sk: str = "", expected_version: int = ANY_VERSION) -> int:
        return self.update([(pk, sk, value)], ["put"], [expected_version])

    def remove(self, pk: str, sk: str = "", expected_version: int = ANY_VERSION) -> int:
        return self.update([(pk, sk, None)], ["remove"], [expected_version])

    # ---------------- read path (K2/K3/K4) ----------------
    def _point_lookup(self, keys) -> dict[tuple[str, str], tuple[str, int]]:
        """Latest live ``(value, version)`` of each stored-form key in
        ``keys``, read driver-side from the manifest as last loaded (the
        table-segment key-index lookup, ContainerKeyIndex.java). Consults
        only the keys' ``bucket=N/`` files — the bucket is the writers'
        own hash — and skips row groups whose pk statistics exclude every
        wanted key. Row groups and per-file summaries already read or
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
                parts.extend(_file_tables(
                    fsio.join(self.data_path, rel),
                    lambda lo, hi, pks=pks: any(lo <= pk <= hi for pk in pks), value_set))
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

    def _result(self, t, ddl: str, spark_frame, as_arrow: bool, what: str):
        """A scan's result as asked: the Arrow table ``t`` or a local
        relation over it, or, when ``t`` is ``None`` (the log is above
        the bound), ``spark_frame()`` or its Arrow collect."""
        if t is None:
            self._spark_for(f"{what} over a log above {ROW_CACHE_BYTES} bytes")
            df = spark_frame()
            return df.toArrow() if as_arrow else df
        if as_arrow:
            return t
        spark = self._spark_for(f"{what} returns a DataFrame ({what}_arrow does not) and")
        return spark.createDataFrame(t, ddl)

    def _entries(self, scan: _Scan, as_arrow: bool, what: str):
        """The latest live entries ``scan`` matches: resolved in Arrow from
        the files that can hold them while those are bounded, else by the
        Spark window over the whole log."""
        self._reload_meta()  # scans see other processes' commits
        rels = self._files
        if scan.bucket is not None:
            rels = [rel for rel in rels if rel.split(os.sep, 1)[0] == scan.bucket]
        t = self._read_log(rels, scan.keep)
        if t is not None:
            if scan.arrow is not None:
                t = t.filter(scan.arrow(t))
            t = _live_heads(t).select(_LOG_COLUMNS[:4])

        def spark_frame():
            df = self._latest(self._files)
            df = df.filter(~F.col("deleted")).select(*_LOG_COLUMNS[:4])
            if scan.spark is not None:
                df = df.filter(scan.spark())
            return df.orderBy(*scan.order) if scan.order else df

        return self._result(t, _ENTRY_DDL, spark_frame, as_arrow, what)

    def _latest(self, rels: list[str]) -> DataFrame:
        w = Window.partitionBy("pk", "sk").orderBy(F.desc("version"))
        return (self._log_frame(rels).withColumn("_rk", F.row_number().over(w))
                .filter(F.col("_rk") == 1).drop("_rk"))

    def snapshot(self) -> DataFrame:
        """Latest live entries as a DataFrame (the MERGE result)."""
        return self._entries(_Scan(order=()), False, "snapshot")

    def snapshot_arrow(self):
        """:meth:`snapshot` as an Arrow table, sorted by ``(pk, sk)``."""
        return self._entries(_Scan(), True, "snapshot")

    def iterate_all(self) -> DataFrame:
        return self._entries(_Scan(), False, "iterate_all")

    def iterate_all_arrow(self):
        return self._entries(_Scan(), True, "iterate_all")

    def iterate_prefix(self, prefix: str) -> DataFrame:
        return self._entries(_prefix_scan(prefix), False, "iterate_prefix")

    def iterate_prefix_arrow(self, prefix: str):
        return self._entries(_prefix_scan(prefix), True, "iterate_prefix")

    def iterate_range(self, from_pk: str, to_pk: str) -> DataFrame:
        return self._entries(_range_scan(from_pk, to_pk), False, "iterate_range")

    def iterate_range_arrow(self, from_pk: str, to_pk: str):
        return self._entries(_range_scan(from_pk, to_pk), True, "iterate_range")

    def _pk_scan(self, pk: str, sk_from: str | None, sk_to: str | None) -> _Scan:
        bucket = f"bucket={bucket_for_key_py(pk, self.config.partition_count)}"
        return _primary_key_scan(pk, sk_from, sk_to, bucket)

    def iterate_primary_key(self, pk: str, sk_from: str | None = None, sk_to: str | None = None) -> DataFrame:
        return self._entries(self._pk_scan(pk, sk_from, sk_to), False, "iterate_primary_key")

    def iterate_primary_key_arrow(self, pk: str, sk_from: str | None = None, sk_to: str | None = None):
        return self._entries(self._pk_scan(pk, sk_from, sk_to), True, "iterate_primary_key")

    def _delta(self, from_version: int, as_arrow: bool):
        import pyarrow.compute as pc

        self._reload_meta()
        t = self._read_log(self._files)
        if t is not None:
            t = t.filter(pc.greater(t["version"], from_version)).sort_by(
                [("version", "ascending"), ("pk", "ascending"), ("sk", "ascending")],
                null_placement="at_start")

        def spark_frame():
            return (
                self._log_frame(self._files)
                .filter(F.col("version") > from_version)
                .select(*_LOG_COLUMNS)
                .orderBy("version", "pk", "sk")
            )

        return self._result(t, _DELTA_DDL, spark_frame, as_arrow, "entry_delta_iterator")

    def entry_delta_iterator(self, from_version: int = 0) -> DataFrame:
        """Change feed: every modification (incl. tombstones) after a
        position (TableStore.entryDeltaIterator:311)."""
        return self._delta(from_version, False)

    def entry_delta_iterator_arrow(self, from_version: int = 0):
        return self._delta(from_version, True)

    # ---------------- maintenance ----------------
    def compact(self) -> None:
        """Drop superseded versions + tombstones (TableCompactor.java:71):
        rewrite the log keeping only the live head per key, manifest-safe
        (readers see the old or the new file set, never neither)."""
        with self._lock():
            self._reload_meta()
            self._compact_locked()

    def _compact_locked(self) -> None:
        tag = uuid.uuid4().hex[:8]
        heads = self._compacted_buckets()
        if heads is not None:
            new_files = []
            for part, t in heads:
                rel = os.path.join(part, f"compact-{tag}.parquet")
                fsio.parquet_write_table(t, fsio.join(self.data_path, rel))
                new_files.append(rel)
        else:
            self._spark_for(f"compact over a log above {ROW_CACHE_BYTES} bytes")
            snap = self._latest(self._files).filter(~F.col("deleted")).select(*_LOG_COLUMNS[:4])
            new_files = self._write_spark(snap.withColumn("deleted", F.lit(False)), f"compact-{tag}")
        old_files = self._files
        self._files = sorted(new_files)
        self._save_meta()  # visibility flip
        for rel in old_files:  # now-invisible originals
            fsio.remove(fsio.join(self.data_path, rel))

    def _compacted_buckets(self) -> list[tuple] | None:
        """``(bucket dir, live heads)`` of each bucket of the log that
        keeps a live key, the heads' ``deleted`` all false, or ``None``
        when the log is above the bound. A key's versions all sit in its
        bucket's directory, so each bucket resolves alone; all of them
        are resolved before the caller writes any, so a log found above
        the bound part-way leaves no file behind."""
        by_bucket: dict[str, list[str]] = {}
        for rel in self._files:
            by_bucket.setdefault(rel.split(os.sep, 1)[0], []).append(rel)
        out, left = [], ROW_CACHE_BYTES
        for part, rels in sorted(by_bucket.items()):
            t = self._read_log(rels, bound=left)
            if t is None:
                return None
            left -= t.get_total_buffer_size()
            heads = _live_heads(t)
            if heads.num_rows:
                out.append((part, heads))
        return out

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

    def __init__(self, spark: SparkSession | None, root: str):
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
