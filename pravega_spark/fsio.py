"""Filesystem adapter: the storage-binding layer.

The reference ships long-term-storage bindings for filesystem, HDFS,
S3, GCS and Azure (``bindings/src/main/java/io/pravega/storage/*``).
Here the *data* plane already speaks any Hadoop-compatible URI through
Spark itself; this module gives the *control* plane (metadata JSON
documents, file manifests, fsck/compaction file ops) the same reach:

- schemeless roots use the local filesystem via ``os``/stdlib (fast
  path, what tests run on);
- URI roots (``hdfs://``, ``s3://``/``s3a://``, ``gs://`` …) go through
  ``pyarrow.fs`` — which is also importable inside Python data source
  workers, where no JVM/py4j is available.

Atomicity of the manifest write (the engine's single commit point,
store.py ``_commit_rows``) per backend:
- local/HDFS: write-temp + atomic rename;
- S3/GCS: no rename, but a single-object PUT is itself atomic — the
  manifest either lands in full or not at all, which is all the
  protocol needs (readers never see a torn document).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

_SCHEME_ALIASES = {"s3a": "s3", "s3n": "s3"}  # spark scheme -> pyarrow scheme

# user/test-registered filesystems by scheme: lets callers mount any
# pyarrow FileSystem (a PyFileSystem over fsspec, the in-process
# S3-semantics conformance store in pravega_spark.testing, a custom
# backend) without it being resolvable by pafs.FileSystem.from_uri
_FS_REGISTRY: dict[str, object] = {}


def register_filesystem(scheme: str, fs) -> None:
    """Route ``<scheme>://`` control-plane paths through ``fs`` (a
    ``pyarrow.fs.FileSystem``). Registering None removes the mapping."""
    if fs is None:
        _FS_REGISTRY.pop(scheme, None)
    else:
        _FS_REGISTRY[scheme] = fs


def _split(path: str):
    """Return (pyarrow_fs_or_None, normalized_path)."""
    if "://" not in path:
        return None, path
    scheme, rest = path.split("://", 1)
    # registry lookup sees the RAW scheme first, then the alias — a
    # filesystem registered as "s3a" must not be bypassed by the
    # s3a->s3 normalization meant for pafs.FileSystem.from_uri
    reg = _FS_REGISTRY.get(scheme) or _FS_REGISTRY.get(_SCHEME_ALIASES.get(scheme, scheme))
    scheme = _SCHEME_ALIASES.get(scheme, scheme)
    if reg is not None:
        return reg, rest
    # file:// intentionally goes through pyarrow too: it keeps the
    # object-store code path exercised by ordinary local test runs
    from pyarrow import fs as pafs

    f, p = pafs.FileSystem.from_uri(f"{scheme}://{rest}")
    return f, p


def read_json(path: str, default):
    f, p = _split(path)
    if f is None:
        try:
            with open(p) as fh:
                return json.load(fh)
        except FileNotFoundError:
            return default
    try:
        with f.open_input_stream(p) as fh:
            return json.loads(fh.read().decode("utf-8"))
    except FileNotFoundError:
        return default


def write_json_atomic(path: str, doc) -> None:
    payload = json.dumps(doc).encode("utf-8")
    f, p = _split(path)
    if f is None:
        os.makedirs(os.path.dirname(p), exist_ok=True)
        tmp = f"{p}.tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "wb") as fh:
            fh.write(payload)
        os.replace(tmp, p)  # atomic on POSIX
        return
    from pyarrow import fs as pafs

    info = f.get_file_info(p.rsplit("/", 1)[0])
    if info.type == pafs.FileType.NotFound:
        f.create_dir(p.rsplit("/", 1)[0], recursive=True)
    # object stores: single-object PUT is atomic; HDFS via pyarrow also
    # exposes rename if ever needed, but a full-object write suffices
    with f.open_output_stream(p) as fh:
        fh.write(payload)


def isdir(path: str) -> bool:
    f, p = _split(path)
    if f is None:
        return os.path.isdir(p)
    from pyarrow import fs as pafs

    return f.get_file_info(p).type == pafs.FileType.Directory


def list_files_recursive(path: str) -> set[str]:
    """Relative paths of regular files under ``path`` (empty if absent)."""
    f, p = _split(path)
    out: set[str] = set()
    if f is None:
        if not os.path.isdir(p):
            return out
        for dirpath, _dirs, files in os.walk(p):
            for name in files:
                out.add(os.path.relpath(os.path.join(dirpath, name), p))
        return out
    from pyarrow import fs as pafs

    sel = pafs.FileSelector(p, recursive=True, allow_not_found=True)
    for info in f.get_file_info(sel):
        if info.type == pafs.FileType.File:
            out.add(os.path.relpath(info.path, p))
    return out


def remove(path: str) -> None:
    f, p = _split(path)
    if f is None:
        try:
            os.remove(p)
        except FileNotFoundError:
            pass
        return
    try:
        f.delete_file(p)
    except FileNotFoundError:
        pass


def move(src: str, dst: str) -> None:
    f, p_src = _split(src)
    f2, p_dst = _split(dst)
    if f is None:
        os.makedirs(os.path.dirname(p_dst), exist_ok=True)
        os.replace(p_src, p_dst)
        return
    from pyarrow import fs as pafs

    parent = p_dst.rsplit("/", 1)[0]
    if f.get_file_info(parent).type == pafs.FileType.NotFound:
        f.create_dir(parent, recursive=True)
    f.move(p_src, p_dst)


def rmtree(path: str) -> None:
    f, p = _split(path)
    if f is None:
        shutil.rmtree(p, ignore_errors=True)
        return
    try:
        f.delete_dir(p)
    except FileNotFoundError:
        pass


def makedirs(path: str) -> None:
    f, p = _split(path)
    if f is None:
        os.makedirs(p, exist_ok=True)
        return
    f.create_dir(p, recursive=True)


def create_exclusive(path: str, data: bytes) -> bool:
    """Atomically create ``path`` with ``data`` iff it does not exist.

    Local: hard-link of a pre-written temp — atomic winner selection
    AND content visibility in one step (exactly one linker wins EEXIST).
    pyarrow filesystems: best effort (probe + write) — object stores
    need a conditional-put (If-None-Match) client for hard exclusivity;
    callers on such roots should treat CAS as advisory or front it with
    an external lock.
    """
    f, p = _split(path)
    if f is None:
        os.makedirs(os.path.dirname(p), exist_ok=True)
        # write-then-link: the file appears WITH its content in one
        # atomic step. O_CREAT|O_EXCL + write would expose an empty
        # file to concurrent readers between the two syscalls — lock
        # contenders reading the half-created doc then crash on
        # invalid JSON instead of polling.
        tmp = f"{p}.new.{uuid.uuid4().hex[:8]}"
        with open(tmp, "wb") as fh:
            fh.write(data)
        try:
            os.link(tmp, p)
        except FileExistsError:
            return False
        finally:
            os.remove(tmp)
        return True
    from pyarrow import fs as pafs

    if f.get_file_info(p).type != pafs.FileType.NotFound:
        return False
    parent = p.rsplit("/", 1)[0]
    if f.get_file_info(parent).type == pafs.FileType.NotFound:
        f.create_dir(parent, recursive=True)
    with f.open_output_stream(p) as fh:
        fh.write(data)
    return True


def _read_lock_doc(path: str):
    """Lock-doc read tolerant of in-flight creation: on non-local
    backends create_exclusive is probe+write (not atomic with content),
    so a concurrent reader may glimpse a half-written doc — treat it as
    'lock exists, contents unknown yet' and let the caller poll."""
    try:
        return read_json(path, None)
    except ValueError:  # json.JSONDecodeError subclasses ValueError
        return {"token": "", "expiry_ms": 1 << 62}


def _claim_name(token: str) -> str:
    import time as _time

    return f"{_time.time_ns():020d}-{token}"


# a claim that stays unparseable past this age is a crashed writer's
# truncated orphan, not an in-flight rewrite — see _read_claim_doc
_CLAIM_TORN_GRACE_S = 10.0
# first-seen times of torn claims on filesystems that report no mtime:
# the only aging signal available there (entries are dropped as soon as
# the claim parses or disappears, so the dict stays tiny)
_TORN_FIRST_SEEN: dict[str, float] = {}


def _read_claim_doc(f, info):
    """Parse one claim file, robust to a holder's in-place lease rewrite.

    open_output_stream on pyarrow-wrapped REAL filesystems (file://,
    hdfs://) is truncate+write, so a contender reading DURING the
    holder's lease/3 heartbeat can glimpse partial JSON. Treating that
    as "claim absent" elects a second holder (r7 ADVICE); instead:
    re-read once (in-flight rewrites resolve in sub-ms), and if still
    unparseable treat a RECENT claim (mtime within the torn grace) as
    LIVE-and-blocking — conservative: the election stalls one poll
    rather than double-electing. Only an unparseable claim OLDER than
    the grace (a writer that died mid-write — impossible on object
    stores, whose PUTs are atomic) is reaped here, so a truncated
    orphan cannot deadlock the lock forever. Returns the parsed doc, a
    blocking placeholder doc, or None (absent — never for a file that
    might still be a healthy claim)."""
    import json as _json
    import time as _time

    for attempt in range(2):
        try:
            with f.open_input_stream(info.path) as fh:
                doc = _json.loads(fh.read().decode("utf-8"))
            _TORN_FIRST_SEEN.pop(info.path, None)
            return doc
        except (FileNotFoundError, OSError):
            _TORN_FIRST_SEEN.pop(info.path, None)
            return None  # released/reaped between list and read
        except ValueError:
            if attempt == 0:
                _time.sleep(0.02)
    # age by when THIS process first saw the claim torn — never by
    # comparing the local clock against a store-reported mtime: on
    # filesystems with clock skew or attribute caching (NFS, HDFS) a
    # live holder's freshly-rewritten claim can APPEAR older than the
    # grace and get deleted, reopening the double-holder window for
    # callers that are not version-fenced at commit (r8 ADVICE). The
    # local monotonic-ish signal is skew-immune: a LIVE holder's
    # rewrite resolves in sub-ms, so the same path parsing torn across
    # a full grace of polls means the writer died mid-write; the cost
    # is that a fresh contender waits one grace before reaping a
    # truncated orphan instead of reaping on sight.
    first = _TORN_FIRST_SEEN.setdefault(info.path, _time.time())
    if _time.time() - first > _CLAIM_TORN_GRACE_S:
        try:
            f.delete_file(info.path)  # truncated orphan: reap
        except (FileNotFoundError, OSError):
            pass
        _TORN_FIRST_SEEN.pop(info.path, None)
        return None
    # recent: block, don't double-elect
    return {"token": "", "expiry_ms": 1 << 62}


def _live_claims(f, claims_dir: str):
    """Sorted (name, doc) of live claim files under ``claims_dir``;
    stale claims are reaped in passing (a failed reap delete just
    leaves the stale claim for the next pass — it stays excluded from
    the live set either way)."""
    import time as _time

    from pyarrow import fs as pafs

    try:
        infos = f.get_file_info(pafs.FileSelector(claims_dir, allow_not_found=True))
    except FileNotFoundError:
        return []
    now_ms = int(_time.time() * 1000)
    live = []
    for info in infos:
        if info.type != pafs.FileType.File:
            continue
        name = info.path.rsplit("/", 1)[-1]
        doc = _read_claim_doc(f, info)
        if doc is None:
            continue
        if doc.get("expiry_ms", 0) < now_ms:
            try:
                f.delete_file(info.path)
            except (FileNotFoundError, OSError):
                pass
            continue
        live.append((name, doc))
    live.sort()
    return live


def _acquire_lock_claims(f, p: str, lease_ms: int, timeout_ms: int,
                         poll_s: float, token: str) -> str:
    """Claim-file election for stores WITHOUT exclusive create (the
    probe+put degradation of create_exclusive is a real race: two
    contenders can both pass the NotFound probe and both believe they
    hold the lock — the moto-backed conformance run catches exactly
    this). Each contender PUTs a uniquely-named claim object
    (arrival-timestamp + token) under ``<lock>.claims/`` and the
    lexicographically-smallest live claim wins; a winner confirms with
    a second listing after one poll interval, closing the window where
    an earlier-named claim's PUT was still in flight during the first
    listing. Liveness: claims carry the lease expiry and are reaped by
    any contender once stale. Safety against a write delayed longer
    than the poll grace is, as before, NOT the lock's job — writers
    pair the lock with version-conditional document writes, so a rare
    double-holder is fenced at commit (see acquire_lock docstring)."""
    import json as _json
    import time as _time

    claims_dir = f"{p}.claims"
    my_name = _claim_name(token)
    my_path = f"{claims_dir}/{my_name}"
    # a contender is ALIVE while acquiring, so its claim is refreshed
    # every poll pass; the floor keeps a sub-poll lease from expiring
    # inside the confirmation grace itself
    acq_lease_ms = max(lease_ms, int(poll_s * 1000 * 6))

    def _put_claim(ms: int) -> None:
        payload = _json.dumps(
            {"token": token, "expiry_ms": int(_time.time() * 1000) + ms}
        ).encode("utf-8")
        try:
            with f.open_output_stream(my_path) as fh:
                fh.write(payload)
        except FileNotFoundError:
            # pyarrow-wrapped REAL filesystems (file:// / hdfs:// URIs)
            # need the parent dir to exist; object stores don't
            f.create_dir(claims_dir, recursive=True)
            with f.open_output_stream(my_path) as fh:
                fh.write(payload)

    deadline = _time.time() + timeout_ms / 1000.0
    while True:
        _put_claim(acq_lease_ms)
        live = _live_claims(f, claims_dir)
        if live and live[0][0] == my_name:
            # the grace + re-list is UNCONDITIONAL: an in-flight
            # earlier-named claim is invisible to the first listing
            # precisely when it looks uncontended, so a fast path here
            # would reopen the double-holder window for plain
            # read-modify-write critical sections (this lock's general
            # contract — not every caller is version-fenced). Cost: one
            # poll interval per acquire on non-local roots; callers on
            # low-latency stores may pass a smaller poll_s. Residual
            # window: a competitor whose claim-name clock read predates
            # ours but whose PUT lands after our re-list (> grace + 3
            # RTTs delayed) — that long a stall is lease-expiry
            # territory.
            _time.sleep(poll_s)
            live = _live_claims(f, claims_dir)
            if live and live[0][0] == my_name:
                if acq_lease_ms != lease_ms:
                    # hand over with the CALLER's lease so a crashed
                    # holder is reaped on the schedule it asked for
                    _put_claim(lease_ms)
                return token
        if _time.time() > deadline:
            try:
                f.delete_file(my_path)
            except (FileNotFoundError, OSError):
                pass
            raise TimeoutError(f"lock {p} not acquired within {timeout_ms}ms")
        _time.sleep(poll_s)


def _find_claim(f, p: str, token: str):
    claims_dir = f"{p}.claims"
    for name, doc in _live_claims(f, claims_dir):
        if doc.get("token") == token:
            return f"{claims_dir}/{name}"
    return None


_INPROC_LOCKS: dict[str, object] = {}
_INPROC_GUARD = None


def _inproc_lock(path: str):
    """Per-path in-process mutex fronting the cross-process file lock.

    File-lock handoff between LOCAL contenders is poll-based (create →
    fail → backoff), so two threads of one process trading a hot commit
    lock paid 1-50 ms of sleep per handoff — the r9 x4-writer profile
    showed lock_acquire p90 at 55 ms, worse than the serialized work it
    guarded. Same-process contenders now queue on a real mutex (µs
    handoff, OS-scheduled fairness) and only the queue head contends on
    the file; cross-process exclusion is still the file protocol's job.
    """
    global _INPROC_GUARD
    import threading

    if _INPROC_GUARD is None:
        _INPROC_GUARD = threading.Lock()
    with _INPROC_GUARD:
        lk = _INPROC_LOCKS.get(path)
        if lk is None:
            lk = _INPROC_LOCKS[path] = threading.Lock()
        return lk


def acquire_lock(path: str, lease_ms: int = 30_000, timeout_ms: int = 180_000,
                 poll_s: float = 0.05) -> str:
    """Lease-based mutual exclusion.

    Two protocols by backend: LOCAL roots use exclusive file create
    (hard-link, truly atomic); pyarrow-backed roots (object stores,
    URI filesystems) use the claim-file election in
    ``_acquire_lock_claims``, because probe+put create cannot elect a
    unique winner — see that function's docstring for the race the
    moto conformance run caught.

    Returns an owner token. Liveness: a crashed holder's lock expires
    after ``lease_ms`` and the next contender reaps it. The reap is
    rename-aside + content verify: a plain remove could race another
    contender's reap-and-recreate and delete the FRESH lock it just
    won; renaming to a per-contender path is atomic (one reaper wins,
    losers see the source missing), and the winner checks it displaced
    the same stale doc it observed — a fresh lock taken by mistake is
    restored via create_exclusive. Safety against a paused holder
    outliving its lease is NOT the lock's job — writers pair the lock
    with a version-checked document write (conditional put), so a
    fenced-out holder fails its commit instead of clobbering (the
    reference pairs store locks with version-conditional metadata
    updates the same way).
    """
    import json as _json
    import time as _time
    import uuid as _uuid

    token = _uuid.uuid4().hex
    f, p = _split(path)
    if f is not None:
        # non-local: exclusive create degrades to probe+put, so the
        # single-doc protocol cannot elect a unique winner — use the
        # claim-file election instead
        return _acquire_lock_claims(f, p, lease_ms, timeout_ms, poll_s, token)
    deadline = _time.time() + timeout_ms / 1000.0
    # local contention is ms-scale (hard-link create, ~3 ms reserve/
    # publish critical sections): a fixed poll_s=50 ms wait per handoff
    # was measured to serialize 4 concurrent writers down to single-
    # writer throughput (r8). Back off exponentially from 1 ms, capped
    # at 4 ms (two cheap syscalls per retry — ~250/s polling worst
    # case, negligible) so a cross-process handoff never waits an order
    # of magnitude longer than the critical section it follows.
    poll_s = min(poll_s, 0.004)
    sleep_s = 0.001
    while True:
        payload = _json.dumps(
            {"token": token, "expiry_ms": int(_time.time() * 1000) + lease_ms}
        ).encode("utf-8")
        if create_exclusive(path, payload):
            return token
        doc = _read_lock_doc(path)
        if doc is not None and doc.get("expiry_ms", 0) < int(_time.time() * 1000):
            reap = f"{path}.reap.{token}"
            try:
                move(path, reap)
            except (FileNotFoundError, OSError):
                continue  # another contender reaped first; re-contend
            taken = _read_lock_doc(reap)
            if taken is not None and taken.get("token") != doc.get("token"):
                # we displaced a lock created AFTER our staleness read —
                # put it back (no-op if a third contender already
                # re-created; its holder is then fenced by conditional
                # writes, the documented safety net)
                create_exclusive(path, _json.dumps(taken).encode("utf-8"))
                remove(reap)
                _time.sleep(poll_s)
                continue
            remove(reap)
            continue  # verified stale reap; re-contend via create_exclusive
        if _time.time() > deadline:
            raise TimeoutError(f"lock {path} not acquired within {timeout_ms}ms")
        _time.sleep(sleep_s)
        sleep_s = min(sleep_s * 2, poll_s)


def renew_lock(path: str, token: str, lease_ms: int = 30_000) -> bool:
    """Extend a held lease; False (stop renewing) once fenced out."""
    import json as _json
    import time as _time

    f, p = _split(path)
    if f is not None:
        claim = _find_claim(f, p, token)
        if claim is None:
            return False  # reaped while paused: fenced out
        payload = _json.dumps(
            {"token": token, "expiry_ms": int(_time.time() * 1000) + lease_ms}
        ).encode("utf-8")
        # in-place rewrite is safe against contender listings because
        # _read_claim_doc treats a mid-rewrite partial doc as
        # live-and-blocking, never as absent (r7 ADVICE)
        with f.open_output_stream(claim) as fh:
            fh.write(payload)
        return True
    doc = _read_lock_doc(path)
    if doc is None or doc.get("token") != token:
        return False
    write_json_atomic(
        path, {"token": token, "expiry_ms": int(_time.time() * 1000) + lease_ms}
    )
    return True


def release_lock(path: str, token: str) -> None:
    f, p = _split(path)
    if f is not None:
        claim = _find_claim(f, p, token)
        if claim is not None:
            try:
                f.delete_file(claim)
            except (FileNotFoundError, OSError):
                pass
        return
    doc = _read_lock_doc(path)
    if doc is not None and doc.get("token") == token:
        remove(path)


import threading as _threading

# token -> [path, lease_ms, last_renew_monotonic, renew_in_flight]
_HELD_LOCKS: dict[str, list] = {}
# built at import (the module import lock serializes it): a lazy
# check-then-create here would itself race the first two lock holders
_HELD_GUARD = _threading.Lock()
# signals renew_in_flight -> False so _unregister_held can wait it out
_HELD_COND = _threading.Condition(_HELD_GUARD)
_RENEW_WAKE = _threading.Event()
_RENEWER_STARTED = False


def _held_guard():
    return _HELD_GUARD


def _renew_loop():
    """Shared renewer: renew every held lease past lease/3.

    I/O happens OUTSIDE the registry guard (r10 ADVICE): on claim-based
    object-store roots a renew is a listing plus a PUT, and holding the
    guard across it would block every locked() acquisition and release
    in the process for the duration. The renew-vs-release race is
    resolved by ORDERING, not by undo (r11 ADVICE): each renew marks
    its entry in-flight under the guard, and _unregister_held waits
    that flag out before its caller's release_lock runs — so a renew's
    read-check-write can never interleave with the release. (The old
    post-renew "undo a resurrection" release was itself unsafe: on a
    local root the resurrection write_json_atomic could clobber a NEW
    holder's lock doc acquired between release and undo, and the
    token-conditional undo then deleted the new holder's lock — a
    double-holder window. The undo below survives only as a last-ditch
    repair for the bounded-wait timeout path.)
    """
    import time as _time

    guard = _held_guard()
    while True:
        with guard:
            snapshot = list(_HELD_LOCKS.items())
        now = _time.monotonic()
        for tok, ent in snapshot:
            p, lease, last = ent[0], ent[1], ent[2]
            if now - last < lease / 3000.0:
                continue
            with guard:
                if _HELD_LOCKS.get(tok) is not ent:
                    continue  # released since the snapshot: no I/O at all
                ent[3] = True  # release of this token now waits for us
            try:
                ok = renew_lock(p, tok, lease)
            except Exception:
                # transient I/O (object-store listing hiccup), NOT a
                # fence: renew_lock reports a lost lease by returning
                # False, never by raising. Leave the entry registered —
                # it stays past-due and retries on the next wake;
                # deregistering here would silently stop renewal of a
                # LIVE critical section and reopen the double-holder
                # window once the lease expired. If the lease really
                # was lost meanwhile, the next successful call returns
                # False and deregisters below.
                ok = None
            with guard:
                ent[3] = False
                _HELD_COND.notify_all()
                still = _HELD_LOCKS.get(tok)
                if still is not ent:
                    if still is None:
                        # only reachable when _unregister_held gave up
                        # waiting (bounded-wait timeout, i.e. this very
                        # renew stalled for ~a lease on a sick backend)
                        # and released anyway: undo a possible
                        # resurrection by this renew's write
                        try:
                            release_lock(p, tok)
                        except Exception:
                            pass
                elif ok:
                    ent[2] = _time.monotonic()
                elif ok is False:
                    del _HELD_LOCKS[tok]  # fenced out: stop renewing
                else:
                    # transient failure: schedule the retry lease/10
                    # from now instead of leaving the entry past-due —
                    # a past-due entry makes the sleep computation
                    # below zero and a PERSISTENT store outage would
                    # busy-spin this thread against the ailing backend
                    ent[2] = _time.monotonic() - lease / 3000.0 + lease / 10000.0
        # sleep until the soonest renewal deadline, but wake IMMEDIATELY
        # when a new (possibly sub-second) lease registers — a fixed
        # sleep could outlive a short lease entirely (r10 ADVICE).
        # clear-before-compute: a registration landing after the clear
        # sets the event and the wait returns at once, so no deadline
        # computed here can be missed.
        _RENEW_WAKE.clear()
        with guard:
            deadlines = [ent[2] + ent[1] / 3000.0 for ent in _HELD_LOCKS.values()]
        now = _time.monotonic()
        timeout = min([0.5] + [max(0.0, d - now) for d in deadlines])
        _RENEW_WAKE.wait(timeout)


def _register_held(token: str, path: str, lease_ms: int) -> None:
    """Track a held lease for the SHARED renewer thread.

    One daemon thread renews every held lease that has run past
    lease/3 — replacing the per-acquisition heartbeat thread, whose
    create + join cost ~65 ms per hot append under 4-writer GIL
    contention (r9 profile: thread wake latency dominated the commit,
    not the lock work itself).
    """
    global _RENEWER_STARTED
    import threading
    import time as _time

    guard = _held_guard()
    with guard:
        _HELD_LOCKS[token] = [path, lease_ms, _time.monotonic(), False]
        start = not _RENEWER_STARTED
        _RENEWER_STARTED = True
    _RENEW_WAKE.set()  # reset the renewer's sleep for this lease's budget
    if start:
        threading.Thread(target=_renew_loop, daemon=True, name="fsio-lock-renewer").start()


def _unregister_held(token: str) -> None:
    """Deregister a lease and WAIT OUT any in-flight renew of it.

    The caller's release_lock follows this call; letting it run while
    the renewer is mid read-check-write on the same lock would let the
    stale renew resurrect (local root: write_json_atomic clobbers; claim
    root: open_output_stream re-creates the deleted claim) a lock a new
    cross-process holder may have since acquired — the r11 ADVICE
    double-holder window. Waiting here is cheap: the flag is set only
    for the duration of one renew I/O, and only a release racing that
    exact renew ever blocks. The wait is bounded (~one lease) so a hung
    backend can't deadlock release; on timeout the renewer's post-renew
    re-check (entry gone -> token-conditional release) is the fallback.
    """
    import time as _time

    with _HELD_COND:
        ent = _HELD_LOCKS.get(token)
        if ent is not None:
            deadline = _time.monotonic() + max(ent[1] / 1000.0, 5.0)
            while ent[3] and _time.monotonic() < deadline:
                _HELD_COND.wait(timeout=deadline - _time.monotonic())
        _HELD_LOCKS.pop(token, None)


def locked(path: str, lease_ms: int = 30_000, timeout_ms: int = 180_000):
    """Context manager: lease lock with background renewal.

    The shared renewer (every lease/3 once a section runs that long)
    keeps a live holder's lease fresh — a multi-minute distributed
    write job under the commit lock is never fenced merely for being
    slow; millisecond sections never pay a renewal. If renewal finds
    the lock gone or re-owned (a real pause longer than the lease), it
    stops silently: the holder's version-conditional document write is
    what then rejects the commit. Same-process contenders serialize on
    an in-process mutex first (µs handoff); the file protocol only
    arbitrates across processes.
    """
    from contextlib import contextmanager

    @contextmanager
    def _guard():
        local = _inproc_lock(path)
        if not local.acquire(timeout=timeout_ms / 1000.0):
            raise TimeoutError(f"lock {path} not acquired within {timeout_ms}ms (in-process)")
        try:
            token = acquire_lock(path, lease_ms, timeout_ms)
        except BaseException:
            local.release()
            raise
        _register_held(token, path, lease_ms)
        try:
            yield token
        finally:
            _unregister_held(token)
            try:
                release_lock(path, token)
            finally:
                local.release()

    return _guard()


def exists(path: str) -> bool:
    f, p = _split(path)
    if f is None:
        return os.path.exists(p)
    from pyarrow import fs as pafs

    return f.get_file_info(p).type != pafs.FileType.NotFound


def read_text(path: str) -> str | None:
    """Whole-file text read; None if missing."""
    f, p = _split(path)
    if f is None:
        try:
            with open(p) as fh:
                return fh.read()
        except FileNotFoundError:
            return None
    try:
        with f.open_input_stream(p) as fh:
            return fh.read().decode("utf-8")
    except FileNotFoundError:
        return None


def write_text_atomic(path: str, text: str) -> None:
    payload = text.encode("utf-8")
    f, p = _split(path)
    if f is None:
        os.makedirs(os.path.dirname(p), exist_ok=True)
        tmp = f"{p}.tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "wb") as fh:
            fh.write(payload)
        os.replace(tmp, p)
        return
    from pyarrow import fs as pafs

    parent = p.rsplit("/", 1)[0]
    if f.get_file_info(parent).type == pafs.FileType.NotFound:
        f.create_dir(parent, recursive=True)
    with f.open_output_stream(p) as fh:  # object PUT: atomic per object
        fh.write(payload)


def write_bytes(path: str, data: bytes) -> None:
    f, p = _split(path)
    if f is None:
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "wb") as fh:
            fh.write(data)
        return
    from pyarrow import fs as pafs

    parent = p.rsplit("/", 1)[0]
    if f.get_file_info(parent).type == pafs.FileType.NotFound:
        f.create_dir(parent, recursive=True)
    with f.open_output_stream(p) as fh:
        fh.write(data)


def read_bytes_range(path: str, start: int, length: int) -> bytes:
    """Ranged read (seek+read) — maps to an object-store range GET."""
    f, p = _split(path)
    if f is None:
        with open(p, "rb") as fh:
            fh.seek(start)
            return fh.read(length)
    with f.open_input_file(p) as fh:
        fh.seek(start)
        return fh.read(length)


def parquet_write_table(table, path: str, use_deprecated_int96: bool = False) -> None:
    """Write an Arrow table as one parquet file (driver-side hot tier).

    Binary columns (opaque event payloads) are written without column
    statistics: nothing filters on them, and statistics would store each
    row group's min and max payload in full in the page headers and the
    footer. Every other column keeps them: ``offset`` statistics prune
    slices, ``event_time`` ones serve ``stream_cut_at_time`` and KVT
    ``pk`` ones skip row groups in point lookups."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    stats = [fld.name for fld in table.schema
             if not (pa.types.is_binary(fld.type) or pa.types.is_large_binary(fld.type))]
    kw = {"compression": "snappy", "use_deprecated_int96_timestamps": use_deprecated_int96,
          "write_statistics": stats if len(stats) < len(table.schema) else True}
    f, p = _split(path)
    if f is None:
        os.makedirs(os.path.dirname(p), exist_ok=True)
        pq.write_table(table, p, **kw)
        return
    parent = p.rsplit("/", 1)[0]
    from pyarrow import fs as pafs

    if f.get_file_info(parent).type == pafs.FileType.NotFound:
        f.create_dir(parent, recursive=True)
    pq.write_table(table, p, filesystem=f, **kw)


def parquet_read_table(path: str):
    """Read one parquet file into an Arrow table (crash-repair path:
    renumbering a pending commit's offsets after a reservation expires,
    store.py ``_reap_reservations_locked``)."""
    import pyarrow.parquet as pq

    f, p = _split(path)
    if f is None:
        return pq.read_table(p)
    return pq.read_table(p, filesystem=f)


def parquet_num_rows(path: str) -> int:
    """Row count from the parquet footer — no Spark job, no data read."""
    import pyarrow.parquet as pq

    f, p = _split(path)
    if f is None:
        return pq.read_metadata(p).num_rows
    return pq.read_metadata(p, filesystem=f).num_rows


def parquet_rows_and_range(path: str, column: str) -> tuple[int, int | None, int | None]:
    """Row count and the min/max of an integer ``column`` from ONE
    parquet footer read — no Spark job, no data read. A file whose
    row groups lack that column's statistics falls back to reading the
    column. (0, None, None) for an empty file."""
    import pyarrow.parquet as pq

    f, p = _split(path)
    md = pq.read_metadata(p) if f is None else pq.read_metadata(p, filesystem=f)
    if md.num_rows == 0:
        return 0, None, None
    idx = next(i for i in range(md.num_columns) if md.schema.column(i).path == column)
    lo = hi = None
    for i in range(md.num_row_groups):
        rg = md.row_group(i)
        if rg.num_rows == 0:
            continue
        st = rg.column(idx).statistics
        if st is None or not st.has_min_max:
            import pyarrow.compute as pc

            col = pq.read_table(p, columns=[column], filesystem=f)[column]
            mm = pc.min_max(col)
            return md.num_rows, mm["min"].as_py(), mm["max"].as_py()
        lo = st.min if lo is None else min(lo, st.min)
        hi = st.max if hi is None else max(hi, st.max)
    return md.num_rows, lo, hi


def parquet_row_groups(path: str, column: str, keep, columns: list[str]):
    """Yield ``(i, lo, hi, table)`` for each row group ``i`` of one
    parquet file that ``keep(i, lo, hi)`` accepts, where ``lo``/``hi``
    are the row group's ``column`` statistics (its min and max), or
    ``None`` when it has none. ``keep`` is asked about every row group,
    in order, so a caller can also note the file's whole pk-range
    summary from one footer read. Only the ``columns`` the file has are
    read. Each row group is read single-threaded: the callers are
    already parallel units (Spark tasks, the sink pump's thread pool),
    and threads inside one small read only add CPU."""
    import pyarrow.parquet as pq

    f, p = _split(path)
    with pq.ParquetFile(p, filesystem=f) as pf:
        md = pf.metadata
        idx = next((i for i in range(md.num_columns) if md.schema.column(i).path == column), None)
        have = set(pf.schema_arrow.names)
        cols = [c for c in columns if c in have]
        for i in range(md.num_row_groups):
            lo = hi = None
            if idx is not None:
                st = md.row_group(i).column(idx).statistics
                if st is not None and st.has_min_max:
                    lo, hi = st.min, st.max
            if keep(i, lo, hi):
                yield i, lo, hi, pf.read_row_group(i, columns=cols, use_threads=False)


def join(*parts: str) -> str:
    """Path join that leaves URI schemes intact ('/' separator)."""
    if "://" in parts[0]:
        return "/".join(s.strip("/") if i else s.rstrip("/") for i, s in enumerate(parts))
    return os.path.join(*parts)
