"""Control-plane metadata store.

Plays the role of the reference controller's metadata store
(``controller/.../store/stream/PersistentStreamBase.java`` and the
ZK/Pravega-table-backed impls): scopes, stream configuration + seal
state, the epoch chain (segment key ranges and the successor graph),
per-segment head/tail offsets, named StreamCuts, transactions, writer
marks, watermarks, and subscriber cuts.

Storage is small JSON documents under ``<root>/_metadata/`` written
atomically through :mod:`pravega_spark.fsio` (local: temp+rename;
object stores: whole-object PUT — atomic per object). The control
plane is driver-side by design: at 100 TB the *data* is big, the
metadata is a few KB per stream — exactly how the reference separates
controller (metadata) from segment store (data). The root may be any
URI both Spark and pyarrow.fs understand (``hdfs://``, ``s3a://`` …,
mirroring the reference's storage bindings in ``bindings/.../storage``);
only the driver of a maintenance/writer job mutates a given stream's
documents (the reference serializes stream mutations through its
controller the same way).
"""

from __future__ import annotations

import json
import os
import time

from pravega_spark import fsio
from pravega_spark.config import StreamConfiguration
from pravega_spark.errors import (
    ConcurrentModificationException,
    ScopeNotEmptyException,
    ScopeNotFoundException,
    StreamNotFoundException,
)

EPOCH_SHIFT = 32  # segment_id = epoch << 32 | segment_number (NameUtils.java:572-576)


def make_segment_id(epoch: int, number: int) -> int:
    return (epoch << EPOCH_SHIFT) | number


def segment_epoch(segment_id: int) -> int:
    return segment_id >> EPOCH_SHIFT

def segment_number(segment_id: int) -> int:
    return segment_id & ((1 << EPOCH_SHIFT) - 1)


def entries_in_range(entries: list[list], lo: int, hi: int) -> list[str]:
    """Names of the manifest entries ``[name, e_lo, e_hi]`` whose offset
    range meets ``[lo, hi)``, in manifest order. Pruning only: readers
    still filter rows on ``offset``."""
    if hi <= lo:
        return []
    return [name for name, e_lo, e_hi in entries if e_lo < hi and e_hi > lo]


def _now_ms() -> int:
    return int(time.time() * 1000)


class MetadataStore:
    def __init__(self, root: str):
        self.root = root
        self.meta_root = fsio.join(root, "_metadata")
        try:
            fsio.makedirs(self.meta_root)
        except OSError:
            # read-side construction (data source workers, read-only
            # replicas): the store must open without write access
            pass

    # ---------- low-level doc I/O (local or object store, fsio.py) ----------
    def _doc_path(self, *parts: str) -> str:
        return fsio.join(self.meta_root, *parts)

    def _read(self, path: str, default):
        return fsio.read_json(path, default)

    def _write(self, path: str, doc) -> None:
        fsio.write_json_atomic(path, doc)

    # ---------- scopes (StreamManager.createScope etc.) ----------
    def create_scope(self, scope: str) -> bool:
        p = self._doc_path("scopes.json")
        doc = self._read(p, {"scopes": []})
        if scope in doc["scopes"]:
            return False
        doc["scopes"].append(scope)
        self._write(p, doc)
        return True

    def list_scopes(self) -> list[str]:
        return list(self._read(self._doc_path("scopes.json"), {"scopes": []})["scopes"])

    def delete_scope(self, scope: str, recursive: bool = False) -> bool:
        if scope not in self.list_scopes():
            return False
        streams = self.list_streams(scope)
        if streams:
            if not recursive:
                # a distinct error type: callers treating deletion of a
                # MISSING scope as idempotent (catching NotFound) must
                # not silently swallow "scope still has streams"
                raise ScopeNotEmptyException(f"scope {scope} not empty: {streams}")
            # recursive DDL actually removes the streams' metadata —
            # otherwise a recreated scope resurrects them with their old
            # contents (data-plane files are the store layer's job:
            # StreamStore.delete_scope seals+deletes per stream first)
            for st in streams:
                self.seal_stream(scope, st)  # delete requires sealed
                self.delete_stream(scope, st)
        p = self._doc_path("scopes.json")
        doc = self._read(p, {"scopes": []})
        doc["scopes"].remove(scope)
        self._write(p, doc)
        return True

    def _require_scope(self, scope: str) -> None:
        if scope not in self.list_scopes():
            raise ScopeNotFoundException(scope)

    # ---------- streams ----------
    def _stream_doc(self, scope: str, stream: str) -> str:
        return self._doc_path(scope, stream, "stream.json")

    def create_stream(self, scope: str, stream: str, config: StreamConfiguration) -> bool:
        self._require_scope(scope)
        p = self._stream_doc(scope, stream)
        if self._read(p, None) is not None:
            return False
        n = max(1, config.scaling.min_num_segments)
        segments = [
            {"segment_id": make_segment_id(0, i), "key_start": i / n, "key_end": (i + 1) / n}
            for i in range(n)
        ]
        # stream.json is the existence marker and must land LAST: a
        # crash mid-create then leaves only orphan epoch/segment docs
        # (harmless, overwritten by the retry) instead of a stream that
        # "exists" but has no epochs — permanently uncreatable and
        # unusable (active_epoch would IndexError for every caller)
        self._write(self._doc_path(scope, stream, "epochs.json"),
                    [{"epoch": 0, "creation_time": _now_ms(), "segments": segments}])
        self._write(self._doc_path(scope, stream, "segments.json"), {"segments": {
            str(s["segment_id"]): {"sealed": False, "head_offset": 0, "tail_offset": 0, "event_count": 0}
            for s in segments
        }})
        self._write(p, {
            "scope": scope, "stream": stream, "sealed": False,
            "creation_time": _now_ms(), "config": config.to_json(),
        })
        return True

    def stream_exists(self, scope: str, stream: str) -> bool:
        return self._read(self._stream_doc(scope, stream), None) is not None

    def get_stream(self, scope: str, stream: str) -> dict:
        doc = self._read(self._stream_doc(scope, stream), None)
        if doc is None:
            raise StreamNotFoundException(f"{scope}/{stream}")
        return doc

    def get_config(self, scope: str, stream: str) -> StreamConfiguration:
        return StreamConfiguration.from_json(self.get_stream(scope, stream)["config"])

    def update_stream(self, scope: str, stream: str, config: StreamConfiguration) -> None:
        doc = self.get_stream(scope, stream)
        doc["config"] = config.to_json()
        self._write(self._stream_doc(scope, stream), doc)

    def seal_stream(self, scope: str, stream: str) -> None:
        doc = self.get_stream(scope, stream)
        doc["sealed"] = True
        self._write(self._stream_doc(scope, stream), doc)
        segs = self.get_segments(scope, stream)
        for s in segs.values():
            s["sealed"] = True
        self.put_segments(scope, stream, segs)  # preserves manifest doc keys

    def delete_stream(self, scope: str, stream: str) -> None:
        doc = self.get_stream(scope, stream)
        if not doc["sealed"]:
            raise StreamNotFoundException(f"{scope}/{stream} must be sealed before delete")
        fsio.rmtree(self._doc_path(scope, stream))

    def list_streams(self, scope: str, tag: str | None = None) -> list[str]:
        d = self._doc_path(scope)
        names = sorted(
            {f.split(os.sep, 1)[0] for f in fsio.list_files_recursive(d) if os.sep in f}
        )
        out = []
        for name in names:
            doc = self._read(fsio.join(d, name, "stream.json"), None)
            if doc is None:
                continue
            if tag is None or tag in doc["config"].get("tags", []):
                out.append(name)
        return out

    def get_stream_tags(self, scope: str, stream: str) -> list[str]:
        return list(self.get_stream(scope, stream)["config"].get("tags", []))

    # ---------- epochs / segments ----------
    def get_epochs(self, scope: str, stream: str) -> list[dict]:
        self.get_stream(scope, stream)
        return self._read(self._doc_path(scope, stream, "epochs.json"), [])

    def active_epoch(self, scope: str, stream: str) -> dict:
        return self.get_epochs(scope, stream)[-1]

    def active_ranges(self, scope: str, stream: str) -> list[tuple[int, float, float]]:
        ep = self.active_epoch(scope, stream)
        return [(s["segment_id"], s["key_start"], s["key_end"]) for s in ep["segments"]]

    def append_epoch(self, scope: str, stream: str, segments: list[dict]) -> dict:
        epochs = self.get_epochs(scope, stream)
        new = {"epoch": epochs[-1]["epoch"] + 1, "creation_time": _now_ms(), "segments": segments}
        epochs.append(new)
        self._write(self._doc_path(scope, stream, "epochs.json"), epochs)
        return new

    def segments_doc(self, scope: str, stream: str) -> dict:
        """Full segments document: the single atomic commit point of the
        data plane. Shape: ``{"version": N, "segments": {sid: {sealed,
        head_offset, tail_offset, event_count, manifest, chain}},
        "writer_seqs": {...}, "committed_txns": [...]}``.

        A segment's committed files are manifest ENTRIES ``[name, lo,
        hi]``: the file's relative path and the half-open offset range
        ``[lo, hi)`` its rows hold. ``manifest`` points at a SHARDED side
        document ``manifests/<sid>.<manifest>.json`` holding the entries
        of an older snapshot, and ``chain`` lists the entries committed
        since (see ``segment_entries``). The shard is written before the
        doc flip, so one commit writes O(touched segments) manifest bytes
        while this doc stays a few hundred bytes per segment forever — at
        10^5-10^6 live files an inline list would make every commit
        rewrite the whole stream's file inventory (the reference keeps
        per-segment metadata records for the same reason,
        PersistentStreamBase). ONLY manifest-listed parquet files are
        visible to readers, which is what makes a crash between parquet
        append and this doc's write safe (orphan files are invisible; a
        retry commits fresh files). writer_seqs / committed_txns ride in
        the same doc so exactly-once markers are atomic WITH visibility.
        ``version`` makes the write conditional (lost-update detection
        for cross-process writers)."""
        doc = self._read(self._doc_path(scope, stream, "segments.json"), {})
        doc.setdefault("segments", {})
        doc.setdefault("version", 0)
        doc.setdefault("writer_seqs", {})
        doc.setdefault("committed_txns", [])
        return doc

    def put_segments_doc(self, scope: str, stream: str, doc: dict,
                         expected_version: int | None = None) -> None:
        """Write the commit-point doc; with ``expected_version`` the
        write is CONDITIONAL: it verifies the stored version still
        matches before replacing (under the stream commit lock this
        detects a fenced-out holder whose lease expired mid-commit)."""
        if expected_version is not None:
            current = self.segments_doc(scope, stream)["version"]
            if current != expected_version:
                raise ConcurrentModificationException(
                    f"{scope}/{stream} segments doc at version {current}, "
                    f"expected {expected_version} — concurrent commit won"
                )
            doc["version"] = expected_version + 1
        else:
            doc["version"] = doc.get("version", 0) + 1
        self._write(self._doc_path(scope, stream, "segments.json"), doc)

    # ---------- sharded per-segment file manifests ----------
    def _manifest_path(self, scope: str, stream: str, sid: str, version) -> str:
        # ``version`` is an int for compaction snapshots, a tag string
        # for chain-fold snapshots — both name uniquely
        return self._doc_path(scope, stream, "manifests", f"{sid}.{version}.json")

    def write_segment_manifest(self, scope: str, stream: str, sid: str,
                               version, entries: list[list]) -> None:
        self._write(self._manifest_path(scope, stream, sid, version), {"files": entries})

    def drop_segment_manifest(self, scope: str, stream: str, sid: str, version) -> None:
        fsio.remove(self._manifest_path(scope, stream, sid, version))

    def segment_entries(self, scope: str, stream: str, sid: str, entry: dict) -> list[list]:
        """Resolve a segment's committed manifest entries ``[name, lo,
        hi]`` in offset order: the snapshot shard (the ``manifest``
        pointer) plus the inline ``chain`` of entries committed since
        that snapshot (the hot commit appends to the bounded in-doc
        chain — O(1) per commit — and folds the chain into a fresh
        snapshot shard every CHAIN_MAX commits, so the doc stays
        O(segments), never O(stream files)). Callers hold the commit
        lock (a held lock guarantees the pointed-to shard exists);
        lockless readers use :meth:`resolve_files`, which retries the
        race where a commit GCs the old shard between doc read and
        shard read."""
        chain = list(entry.get("chain", ()))
        v = entry.get("manifest")
        if v is None:
            return chain
        doc = self._read(self._manifest_path(scope, stream, sid, v), None)
        if doc is None:
            # dangling pointer: the doc we were handed went stale and the
            # shard was GC'd by a newer commit — fail loudly; silently
            # treating a non-empty segment as empty would drop its rows
            raise ConcurrentModificationException(
                f"{scope}/{stream} segment {sid}: manifest shard v{v} missing"
            )
        return list(doc["files"]) + chain

    def segment_files(self, scope: str, stream: str, sid: str, entry: dict) -> list[str]:
        """The names of a segment's committed files (see
        :meth:`segment_entries`), for callers that need no offsets."""
        return [e[0] for e in self.segment_entries(scope, stream, sid, entry)]

    def resolve_files(
        self, scope: str, stream: str, bounds: dict[int, tuple[int, int]] | None = None
    ) -> tuple[dict, dict[str, list[str]]]:
        """Lockless snapshot (full segments DOC, {sid: file names}) for
        readers — the doc (not just ``segments``) so the reader can
        precheck ``pending``/``reservations`` for visibility gaps a
        crashed writer left behind (store._maybe_read_repair) without a
        second metadata read. With ``bounds`` ({segment_id: (lo, hi)}),
        only the listed segments resolve, each to the files whose offset
        range meets ``[lo, hi)`` (:func:`entries_in_range`).

        Two-step resolution (doc → shards) can race a concurrent commit
        that deletes the old shard right after its doc flip; on a
        missing shard the whole snapshot is re-read from the fresh doc
        (bounded retries), so readers always see a CONSISTENT committed
        state — never a segment silently emptied mid-read.
        """
        last_err: Exception | None = None
        for attempt in range(5):
            doc = self.segments_doc(scope, stream)
            segs = doc["segments"]
            try:
                if bounds is None:
                    return doc, {
                        sid: self.segment_files(scope, stream, sid, s)
                        for sid, s in segs.items()
                    }
                return doc, {
                    sid: entries_in_range(
                        self.segment_entries(scope, stream, sid, s), *bounds[int(sid)]
                    )
                    for sid, s in segs.items()
                    if int(sid) in bounds
                }
            except ConcurrentModificationException as e:
                last_err = e
                time.sleep(0.05 * (attempt + 1))
        raise last_err

    def get_segments(self, scope: str, stream: str) -> dict[str, dict]:
        return self.segments_doc(scope, stream)["segments"]

    def put_segments(self, scope: str, stream: str, segs: dict[str, dict]) -> None:
        doc = self.segments_doc(scope, stream)
        doc["segments"] = segs
        self.put_segments_doc(scope, stream, doc)

    def tail_offsets(self, scope: str, stream: str) -> dict[int, int]:
        return {int(k): v["tail_offset"] for k, v in self.get_segments(scope, stream).items()}

    def head_offsets(self, scope: str, stream: str) -> dict[int, int]:
        return {int(k): v["head_offset"] for k, v in self.get_segments(scope, stream).items()}

    # ---------- named streamcuts ----------
    def save_streamcut(self, scope: str, stream: str, name: str, cut_json: str) -> None:
        p = self._doc_path(scope, stream, "cuts.json")
        doc = self._read(p, {})
        doc[name] = {"created": _now_ms(), "cut": cut_json}
        self._write(p, doc)

    def load_streamcut(self, scope: str, stream: str, name: str) -> str | None:
        doc = self._read(self._doc_path(scope, stream, "cuts.json"), {})
        entry = doc.get(name)
        return entry["cut"] if entry else None

    def list_streamcuts(self, scope: str, stream: str) -> dict[str, dict]:
        return self._read(self._doc_path(scope, stream, "cuts.json"), {})

    # ---------- transactions ----------
    def txn_doc(self, scope: str, stream: str) -> dict:
        return self._read(self._doc_path(scope, stream, "txns.json"), {})

    def put_txn_doc(self, scope: str, stream: str, doc: dict) -> None:
        self._write(self._doc_path(scope, stream, "txns.json"), doc)

    # ---------- writer marks / watermarks (T1-T2) ----------
    def note_writer_mark(self, scope: str, stream: str, writer_id: str,
                         timestamp_ms: int, position: dict[int, int]) -> None:
        p = self._doc_path(scope, stream, "marks.json")
        doc = self._read(p, {})
        doc[writer_id] = {"timestamp": timestamp_ms, "position": {str(k): v for k, v in position.items()}}
        self._write(p, doc)

    def remove_writer(self, scope: str, stream: str, writer_id: str) -> None:
        p = self._doc_path(scope, stream, "marks.json")
        doc = self._read(p, {})
        doc.pop(writer_id, None)
        self._write(p, doc)

    def writer_marks(self, scope: str, stream: str) -> dict[str, dict]:
        return self._read(self._doc_path(scope, stream, "marks.json"), {})

    def append_watermark(self, scope: str, stream: str, wm: dict) -> None:
        p = self._doc_path(scope, stream, "watermarks.json")
        doc = self._read(p, [])
        wm = dict(wm, seq=len(doc))
        doc.append(wm)
        self._write(p, doc)

    def watermarks(self, scope: str, stream: str) -> list[dict]:
        return self._read(self._doc_path(scope, stream, "watermarks.json"), [])

    # ---------- subscribers (consumption-based retention, N3) ----------
    def update_subscriber_cut(self, scope: str, stream: str, subscriber: str, cut_json: str) -> None:
        p = self._doc_path(scope, stream, "subscribers.json")
        doc = self._read(p, {})
        doc[subscriber] = {"cut": cut_json, "updated": _now_ms()}
        self._write(p, doc)

    def list_subscribers(self, scope: str, stream: str) -> dict[str, dict]:
        return self._read(self._doc_path(scope, stream, "subscribers.json"), {})
