"""Custom PySpark DataSource exposing streams to read/readStream.

The Spark-4 Python data source API (pyspark.sql.datasource) is the
idiomatic replacement for the reference's reader-group machinery
(SURVEY §2.2 R1-R3):

  - streaming offsets = StreamCut vectors ``{segment_id: offset}`` —
    Structured Streaming checkpoints them exactly like the reference's
    reader-group checkpoints persist positions;
  - ``partitions(start, end)`` yields one InputPartition per segment
    slice → Spark tasks ARE the reader group (exactly-one-task-per-
    segment; rebalancing is the scheduler's job, replacing
    ReaderGroupStateManager's distance-to-tail protocol);
  - per-key order holds because a partition reads one segment in
    offset order and a routing key lives in exactly one live segment.

Each manifest entry records the offset range ``[lo, hi)`` of one
committed file, so ``partitions`` hands each slice only the files whose
range meets the slice's offsets: a tail read opens the few files that
hold its offsets, whatever the stream's history. A slice is read on
the executors file by file and row group by row group with plain
single-threaded pyarrow reads (``fsio.parquet_row_groups``): row groups
whose ``offset`` statistics miss the slice are skipped, and rows are
filtered on ``offset`` only in row groups that straddle a bound. Each
Spark task is already one parallel unit, so a read uses no thread pool
of its own, and the JVM-free process never imports the Arrow Dataset
scanner. A catch-up slice of hundreds of files is read one file after
another as well: a small file's open and read hold the GIL for most of
their time, and overlapping them on a thread pool doubled such a
slice's CPU without a steady fall in its wall time (200 files of 25
rows each, 4 vCPUs).

Options: ``root``, ``scope``, ``stream``, optional ``start_cut`` /
``end_cut`` (JSON StreamCuts — end_cut makes a *bounded* stream, the
BoundedStreamReaderTest semantics), ``max_events_per_trigger`` (source
rate limiting, the reference's read throttling).
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# fixed envelope the source exposes; payload carries the event bytes
# (typed columns are lifted after read via serializers / from_json)
ENVELOPE = StructType(
    [
        StructField("routing_key", StringType()),
        StructField("segment_id", LongType()),
        StructField("offset", LongType()),
        StructField("event_time", TimestampType()),
        StructField("ingest_time", TimestampType()),
        StructField("payload", BinaryType()),
    ]
)


class SegmentSlice(InputPartition):
    def __init__(self, root: str, scope: str, stream: str, segment_id: int,
                 start: int, end: int, files: list[str] = ()):
        self.root, self.scope, self.stream = root, scope, stream
        self.path = os.path.join(root, "streams", scope, stream)
        self.segment_id = segment_id
        self.start = start
        self.end = end
        # committed files (relative to path) whose manifest offset range
        # meets [start, end), in offset order
        self.files = list(files)


# fat record batches per yield: each batch crossing the Python-worker →
# JVM boundary pays per-batch Arrow IPC + conversion overhead, so a
# slice of N small file-chunks must NOT surface as N small batches
_BATCH_ROWS = 131_072

# re-plans of one slice whose planned files a compaction removed
_REPLANS = 5


def _as_envelope(t, want: dict):
    """``t`` with exactly the ``want`` columns and types: a column of
    another type is cast, a missing one becomes nulls. A conforming
    table is returned as is."""
    import pyarrow as pa

    if t.schema.names == list(want) and all(
        t.schema.field(n).type == typ for n, typ in want.items()
    ):
        return t
    return pa.table({
        n: t[n].cast(typ) if n in t.schema.names else pa.nulls(t.num_rows, typ)
        for n, typ in want.items()
    })


def _read_planned(sl: SegmentSlice):
    """The rows of ``sl.files`` in ``[sl.start, sl.end)`` as one table
    of the stored envelope columns, or None when there are none."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from pravega_spark import fsio

    # segment_id lives in the directory name, not in the files
    want = {
        "routing_key": pa.string(),
        "offset": pa.int64(),
        "event_time": pa.timestamp("us"),
        "ingest_time": pa.timestamp("us"),
        "payload": pa.binary(),
    }
    start, end = sl.start, sl.end
    parts = []
    for rel in sl.files:
        for _i, lo, hi, t in fsio.parquet_row_groups(
            fsio.join(sl.path, rel), "offset",
            lambda _i, lo, hi: lo is None or (lo < end and hi >= start), list(want),
        ):
            if lo is None or lo < start or hi >= end:  # straddles a bound
                off = t["offset"]
                t = t.filter(pc.and_(pc.greater_equal(off, start), pc.less(off, end)))
            if t.num_rows:
                parts.append(t)
    if not parts:
        return None
    # files of one writer share a schema: cast once, after the concat
    if any(p.schema != parts[0].schema for p in parts[1:]):
        parts = [_as_envelope(p, want) for p in parts]
    return _as_envelope(pa.concat_tables(parts), want)


def _read_slice_table(sl: SegmentSlice):
    """One segment slice as a single envelope-typed Arrow table (or None).

    Shared by the executor-side streaming read AND the driver-side pump
    fast path (streaming/sink.py). Each planned file is read row group
    by row group (``fsio.parquet_row_groups``): a row group whose
    ``offset`` statistics miss ``[start, end)`` is skipped, and rows are
    filtered only in row groups that straddle a bound. Columns are cast
    to the envelope types only where the stored types differ, and
    columns a file lacks become nulls. Row order = manifest file order =
    offset order, which carries the per-key order contract.

    Compaction deletes a segment's original files right after its
    manifest flip, and every live row keeps its offset, so a planned
    file that has gone is not an error: the slice is re-planned from the
    current manifest (bounded retries) and read again. A slice that
    starts below the current head raises TruncatedDataException instead,
    as ``StreamStore.read`` does: its rows below the head are gone.
    """
    import time

    import pyarrow as pa

    from pravega_spark.errors import TruncatedDataException

    if not sl.files:
        return None
    for attempt in range(_REPLANS):
        try:
            table = _read_planned(sl)
            break
        except FileNotFoundError:
            if attempt == _REPLANS - 1:
                raise
            time.sleep(0.05 * (attempt + 1))
            # a re-plan sees only rows at or above the current head: a
            # slice that starts below it lost rows to truncation
            head = _load_heads(sl.root, sl.scope, sl.stream).get(sl.segment_id, 0)
            if sl.start < head:
                raise TruncatedDataException(
                    f"segment {sl.segment_id}: slice start {sl.start} < head {head}"
                )
            [sl] = plan_slices(sl.root, sl.scope, sl.stream,
                               {str(sl.segment_id): sl.start}, {str(sl.segment_id): sl.end})
    if table is None:
        return None
    # constant column, built without a Python-list round trip
    seg = pa.nulls(table.num_rows, pa.int64()).fill_null(sl.segment_id)
    return table.add_column(1, "segment_id", seg).combine_chunks()


def _read_slice(sl: SegmentSlice):
    """Executor-side: the slice table re-emitted as ≤``_BATCH_ROWS``-row
    record batches (fat batches — a slice of N small commit files must
    not cross the Python-worker → JVM boundary as N small batches)."""
    out = _read_slice_table(sl)
    if out is None:
        return
    yield from out.to_batches(max_chunksize=_BATCH_ROWS)


def _load_segments(root: str, scope: str, stream: str) -> dict[str, dict]:
    # fsio (local or pyarrow.fs) — this runs inside data source workers
    # where no JVM is available, so object-store roots must not need py4j
    from pravega_spark import fsio

    doc = fsio.read_json(fsio.join(root, "_metadata", scope, stream, "segments.json"), {})
    return doc.get("segments", {})


def _load_tails(root: str, scope: str, stream: str) -> dict[int, int]:
    return {int(k): v["tail_offset"] for k, v in _load_segments(root, scope, stream).items()}


def _load_heads(root: str, scope: str, stream: str) -> dict[int, int]:
    return {int(k): v["head_offset"] for k, v in _load_segments(root, scope, stream).items()}


def _load_entries(root: str, scope: str, stream: str,
                  only_sids: set[int]) -> dict[int, list[list]]:
    """Per-segment committed manifest entries ``[name, lo, hi]``.

    Shard resolution delegates to ``MetadataStore.segment_entries`` (pure
    fsio/stdlib — constructible inside data source workers), wrapped in
    the lockless doc→shard retry: a concurrent commit GCs the old shard
    right after its doc flip, so a missing shard means OUR doc snapshot
    is stale — re-read and retry; silently treating a non-empty segment
    as empty would skip committed events in a planned micro-batch.

    ``only_sids`` restricts resolution to the segments a plan actually
    touches: per-trigger planning then issues O(active segments)
    metadata reads, not O(all segments) — on an object-store root with
    hundreds of idle segments that is the difference between a few GETs
    per trigger and hundreds."""
    import time as _time

    from pravega_spark.errors import ConcurrentModificationException
    from pravega_spark.metadata import MetadataStore

    ms = MetadataStore(root)
    last: Exception | None = None
    for attempt in range(5):
        try:
            return {
                int(k): ms.segment_entries(scope, stream, k, v)
                for k, v in _load_segments(root, scope, stream).items()
                if int(k) in only_sids
            }
        except ConcurrentModificationException as e:
            last = e
            _time.sleep(0.05 * (attempt + 1))
    raise last


def plan_slices(root: str, scope: str, stream: str,
                start: dict, end: dict) -> list[SegmentSlice]:
    """One slice per segment whose offsets advance from ``start`` to
    ``end`` (both {str(segment_id): offset}), in ``end``'s order, each
    holding only the committed files whose manifest offset range meets
    its ``[start, end)``. Shared by the source's ``partitions`` and the
    sink's driver-side pump."""
    from pravega_spark.metadata import entries_in_range

    ranges = {
        int(sid): (int(start.get(sid, 0)), int(hi))
        for sid, hi in end.items()
        if int(hi) > int(start.get(sid, 0))
    }
    # O(active segments) metadata reads per trigger: idle segments'
    # manifest shards are never touched
    entries = _load_entries(root, scope, stream, set(ranges)) if ranges else {}
    return [
        SegmentSlice(root, scope, stream, sid, lo, hi,
                     entries_in_range(entries.get(sid, []), lo, hi))
        for sid, (lo, hi) in ranges.items()
    ]


def read_offsets_log(checkpoint_dir: str, batch_id: int) -> dict[str, int] | None:
    """The single-source offset vector Spark logged for ``batch_id`` —
    THE one validated parser of the offsets-log format (version line,
    batch-metadata line, then ONE line per source). Exactly one source
    line is required: in a multi-source query a batch cannot be
    attributed to one stream slice, and blindly taking the last line
    would return some OTHER source's offsets. Reads via fsio so
    checkpoints on URI roots work too."""
    from pravega_spark import fsio

    text = fsio.read_text(fsio.join(checkpoint_dir, "offsets", str(batch_id)))
    if text is None:
        return None
    try:
        lines = [ln for ln in text.splitlines() if ln.strip()]
        if len(lines) != 3:
            return None
        off = json.loads(lines[2])
        if not isinstance(off, dict):
            return None
        return {str(k): int(v) for k, v in off.items()}
    except (ValueError, json.JSONDecodeError):
        return None


def logged_batch_ids(checkpoint_dir: str, subdir: str) -> list[int]:
    """Sorted batch ids present in a checkpoint log dir (offsets/
    commits), via fsio so URI-rooted checkpoints list correctly."""
    from pravega_spark import fsio

    return sorted(
        int(name)
        for name in fsio.list_files_recursive(fsio.join(checkpoint_dir, subdir))
        if name.isdigit()
    )


def bound_tails_by_cut(root: str, scope: str, stream: str,
                       tails: dict[int, int], end_positions: dict) -> dict[int, int]:
    """Cap per-segment tails at a bounded-read end cut. A segment the
    cut does not mention is either a PREDECESSOR (sealed before the cut
    — entirely before it, read fully) or a SUCCESSOR created by a scale
    after the cut (entirely after it, read NOTHING). Epoch records
    decide which: segments first appearing in an epoch newer than every
    cut segment's epoch are successors. Defaulting them to their tail
    would leak post-cut events into a bounded read
    (BoundedStreamReaderTest semantics). Shared by the source's
    latestOffset and ReaderGroup.drain's target computation."""
    ends = {str(k): int(v) for k, v in end_positions.items()}
    missing = [k for k in tails if str(k) not in ends]
    if missing:
        from pravega_spark import fsio

        epochs = fsio.read_json(
            fsio.join(root, "_metadata", scope, stream, "epochs.json"), []
        )
        first_epoch: dict[int, int] = {}
        for rec in epochs:
            for seg in rec.get("segments", []):
                first_epoch.setdefault(int(seg["segment_id"]), int(rec["epoch"]))
        cut_epoch = max((first_epoch.get(int(k), 0) for k in ends), default=0)
        for k in missing:
            if first_epoch.get(int(k), 1 << 62) > cut_epoch:
                ends[str(k)] = 0  # successor: entirely after the cut
            # predecessor: leave unmentioned -> full tail below
    return {k: min(v, ends.get(str(k), v)) for k, v in tails.items()}


class PravegaStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict):
        self.root = options["root"]
        self.scope = options["scope"]
        self.stream = options["stream"]
        self.path = os.path.join(self.root, "streams", self.scope, self.stream)
        self.max_per_trigger = int(options.get("max_events_per_trigger", 0) or 0)
        self.checkpoint_dir = options.get("checkpoint_dir")
        self.start_cut = json.loads(options["start_cut"]) if options.get("start_cut") else None
        self.end_cut = json.loads(options["end_cut"]) if options.get("end_cut") else None
        # high-water mark of offsets this instance has handed to Spark;
        # basis for rate limiting. MONOTONIC: only advanced via max-merge
        # (_advance) — initialOffset can be called after latestOffset on
        # the same instance, and overwriting with the (lower) head vector
        # would make the next latestOffset regress below the committed
        # position, which Spark then checkpoints → re-read duplicates.
        # None until first observation: that first latestOffset is then
        # uncapped (a safe catch-up batch). Capping must happen in
        # latestOffset, never in partitions(), or Spark checkpoints the
        # uncapped tail and the capped-out rows are silently lost.
        self._pos: dict[str, int] | None = None

    def _advance(self, off: dict) -> None:
        if self._pos is None:
            self._pos = {}
        for k, v in off.items():
            k = str(k)
            v = int(v)
            if v > self._pos.get(k, -1):
                self._pos[k] = v

    # offsets are plain dicts {str(segment_id): offset} — Spark JSON-
    # serializes them into the checkpoint (R3: checkpoint = StreamCut)
    def initialOffset(self) -> dict:
        if self.start_cut is not None:
            off = {str(k): int(v) for k, v in self.start_cut.get("positions", {}).items()}
        else:
            off = {str(k): int(v) for k, v in _load_heads(self.root, self.scope, self.stream).items()}
        self._advance(off)
        return off

    def _seed_from_checkpoint(self) -> None:
        """On restart Spark never tells a fresh reader where the query
        left off (initialOffset is skipped, partitions() comes after
        latestOffset), so without this the first latestOffset plans an
        unbounded catch-up batch. Seed the high-water mark from the
        newest entry in the query's own offsets log (last line = this
        source's JSON offset dict, same format committed_positions
        parses)."""
        try:
            batches = logged_batch_ids(self.checkpoint_dir, "offsets")
            if not batches:
                return
            off = read_offsets_log(self.checkpoint_dir, batches[-1])
            if off is not None:  # None: multi-source/partial — stay uncapped
                self._advance(off)
        except OSError:
            return  # no/partial checkpoint: first batch stays uncapped

    def latestOffset(self) -> dict:
        if self._pos is None and self.max_per_trigger and self.checkpoint_dir:
            self._seed_from_checkpoint()
        tails = _load_tails(self.root, self.scope, self.stream)
        if self.end_cut is not None:
            tails = self._bound_by_end_cut(tails)
        latest = {str(k): int(v) for k, v in tails.items()}
        if self.max_per_trigger and self._pos is not None:
            base = self._pos
            latest = {
                sid: min(hi, int(base.get(sid, 0)) + self.max_per_trigger)
                if hi > int(base.get(sid, 0))
                else hi
                for sid, hi in latest.items()
            }
        self._advance(latest)
        return latest

    def _bound_by_end_cut(self, tails: dict[int, int]) -> dict[int, int]:
        return bound_tails_by_cut(
            self.root, self.scope, self.stream, tails,
            self.end_cut.get("positions", {}),
        )

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        self._advance(end)  # authoritative plan boundary
        out = plan_slices(self.root, self.scope, self.stream, start, end)
        return out or [SegmentSlice(self.root, self.scope, self.stream, -1, 0, 0)]

    def read(self, partition: SegmentSlice) -> Iterator:
        if partition.segment_id < 0:
            return iter(())
        return _read_slice(partition)

    def commit(self, end: dict) -> None:
        self._advance(end)  # positions live in the streaming checkpoint

    def stop(self) -> None:
        pass


class PravegaBatchReader(DataSourceReader):
    """Batch tier of the same source (R5): full or cut-bounded scan."""

    def __init__(self, options: dict):
        self.stream_reader = PravegaStreamReader(options)
        self.stream_reader.max_per_trigger = 0  # rate limit is stream-only

    def partitions(self) -> Sequence[InputPartition]:
        start = self.stream_reader.initialOffset()
        end = self.stream_reader.latestOffset()
        return self.stream_reader.partitions(start, end)

    def read(self, partition: SegmentSlice) -> Iterator:
        return self.stream_reader.read(partition)


class PravegaStreamDataSource(DataSource):
    """spark.read/readStream format ``pravega_stream``."""

    @classmethod
    def name(cls) -> str:
        return "pravega_stream"

    def schema(self) -> StructType:
        return ENVELOPE

    def reader(self, schema: StructType) -> DataSourceReader:
        return PravegaBatchReader(self.options)

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        return PravegaStreamReader(self.options)


def register(spark) -> None:
    spark.dataSource.register(PravegaStreamDataSource)
