"""Snapshot-manifest commit layer: atomic data-file visibility.

The reference gets multi-file atomicity from its Raft-replicated file
manifest plus the Iceberg exporter's ``ReplaceDataFiles`` swap
(/root/reference/internal/iceberg/exporter.go,
internal/compaction/manifest.go): readers resolve a committed *file
list*, never a directory glob, so a crash between "files written" and
"commit" can only leave invisible stray files — never a partial flush a
query can see.

This module is the Spark-native equivalent. Per measurement directory
(one per tier — hot, cold, daily each commit their own):

- ``<meas>/_arc_snapshots/v{N}.json`` — immutable, versioned file lists
  (paths relative to the measurement dir, so backup/restore and tier
  moves keep manifests valid). The CURRENT snapshot is simply the
  highest version present; publishing one is a single tmp→rename, which
  is atomic on local filesystems and either-old-or-new on object stores.
- writers call :func:`commit` with ``add=written_files`` /
  ``remove=replaced_files`` AFTER the data files are written, then
  :func:`retire` the replaced files: the one deletion rule. Crash before
  commit → readers keep the old snapshot (stray new files are
  invisible); crash after commit → readers see the new snapshot (stale
  old files are invisible, aged ones the reconciler's ``orphan_data``).
- readers (:meth:`arc_spark.catalog.MeasurementCatalog.table`) resolve
  the current snapshot into an explicit file list for
  ``spark.read.parquet(*files)`` with ``basePath`` — hive partition
  columns and Catalyst partition pruning work exactly as they do for a
  directory scan, because the file index is just pre-resolved.

Every tree is managed. A tree that was never committed (hand-built,
written before the snapshot layer, or restored from a backup taken
before its first commit) is ADOPTED the first time anything resolves
it: :func:`current` publishes a full snapshot of its live files
(:func:`live_glob`) and returns it, so existing data stays visible and
every consumer sees one kind of tree. After that, files dropped in by
hand are invisible and files deleted by hand make reads fail loudly,
until :func:`adopt` runs again (``MeasurementCatalog.invalidate`` is
that hook) — which is the point. Re-adoption never commits a file the
retained history replaced or a leftover compaction job recorded
(:func:`_retired`). A missing directory reads as the empty snapshot
``(0, [])`` and nothing is written.

Concurrency: threads in one process serialize on an in-process lock;
across PROCESSES, :func:`commit` is a version compare-and-swap — the
``vN+1`` file is published with a fail-if-exists primitive (hard-link
EEXIST on local filesystems), and a loser rereads the winner's snapshot
and reapplies its own add/remove sets. That makes the A24 collapse
("compaction as a separate Spark job") actually safe: an out-of-process
lifecycle job and a serving engine committing concurrently lose neither
side's files — the role the reference's Raft RegisterFile ordering
plays (internal/compaction/manifest.go). Object stores without a
conditional create degrade to documented single-writer mode. A
concurrent *reader* always sees a fully written snapshot (the body is
complete before the link/rename publishes it).

At 100 TB: reads pay a bounded handful of small GETs (newest full
snapshot + ≤ FOLD_EVERY−1 deltas) instead of a recursive LIST. Commits
are Delta-log style: a version normally appends only its add/remove
sets — O(changes) bytes regardless of live file count — and every
FOLD_EVERY-th version folds the chain into one full snapshot (~100
bytes/file), whose size is itself bounded because compaction bounds the
live file count (hourly tier merges every multi-file partition to one
file). The r4-noted O(files)-per-commit rewrite is gone; a pytest
micro-bench locks delta-commit cost flat vs file count.
"""

from __future__ import annotations

import contextlib
import threading
import time
import uuid

from arc_spark.storage import backend_for

SNAP_DIR = "_arc_snapshots"
KEEP_VERSIONS = 10
# prune only version files older than this: a racing out-of-process
# committer's read→CAS window is sub-second, so its just-read current
# version can never be deleted out from under it
PRUNE_MIN_AGE_S = 60.0
# incremental commits (the Delta-log upgrade path the module always
# documented): a commit normally appends only its add/remove sets —
# O(changes), not O(files) — and every FOLD_EVERY-th version writes a
# full snapshot so reads fold a bounded chain. FOLD_EVERY < KEEP_VERSIONS
# guarantees the count-based prune can never cut a live fold chain.
FOLD_EVERY = 8

# re-entrant: adopt() holds the tree's lock across its check-then-commit
_locks: dict[str, threading.RLock] = {}
_locks_guard = threading.Lock()


def _lock_for(meas_path: str) -> threading.RLock:
    with _locks_guard:
        lk = _locks.get(meas_path)
        if lk is None:
            lk = _locks[meas_path] = threading.RLock()
        return lk


# in-flight reads by sequence number, and the retired files waiting for
# them as (latest sequence at retire, tree, files)
_read_guard = threading.Lock()
_read_seq = 0
_readers: set[int] = set()
_queued: list[tuple[int, str, list[str]]] = []


@contextlib.contextmanager
def reading():
    """Mark a read in flight: files :func:`retire` is handed before the
    block exits stay on disk until it does. Never waits for a writer."""
    global _read_seq
    with _read_guard:
        _read_seq += 1
        me = _read_seq
        _readers.add(me)
    try:
        yield
    finally:
        with _read_guard:
            _readers.discard(me)
            oldest = min(_readers, default=_read_seq + 1)
            due = [q for q in _queued if q[0] < oldest]
            _queued[:] = [q for q in _queued if q[0] >= oldest]
        for _, tree, files in due:
            # a failed delete must not fail the read: its files are orphans
            with contextlib.suppress(OSError):
                _unlink(tree, files)


def retire(tree: str, files) -> None:
    """Delete ``files``, data files under ``tree`` the commit just
    removed, with their crc sidecars and the partition dirs they leave
    empty (never ``tree`` itself). With no read in flight that happens
    before this returns; otherwise the last read that began before this
    call does it as it exits. Never waits. Files queued when the process
    dies are the reconciler's aged ``orphan_data``."""
    files = list(files)
    if not files:
        return
    with _read_guard:
        if _readers:
            _queued.append((_read_seq, tree, files))
            return
    _unlink(tree, files)


def _unlink(tree: str, files: list[str]) -> None:
    backend_for(tree).remove_data_files(files, tree)


def held(bk, meas_path: str) -> set[str]:
    """Relative paths of the files :func:`retire` queued behind a
    running read: replaced, not yet deleted, and not orphans."""
    with _read_guard:
        return {_rel(bk, meas_path, f) for _, _, fs in _queued for f in fs}


def _snap_dir(bk, meas_path: str) -> str:
    return bk.join(meas_path, SNAP_DIR)


def _versions(bk, meas_path: str) -> list[tuple[int, str]]:
    d = _snap_dir(bk, meas_path)
    if not bk.isdir(d):
        return []
    out = []
    for f in bk.list_files(d, suffix=".json"):
        name = bk.basename(f)
        if name.startswith("v") and name.endswith(".json"):
            body = name[1:-5]
            if body.isdigit():
                out.append((int(body), f))
    out.sort()
    return out


def latest_version(meas_path: str, bk=None) -> int:
    """Newest committed snapshot version. ONE directory listing, no
    version-file reads — the cheap freshness fingerprint (versions are
    CAS-monotonic, so an unchanged number means an unchanged committed
    file set). A never-committed tree is adopted first (:func:`current`);
    a missing directory is version 0."""
    bk = bk or backend_for(meas_path)
    vers = _versions(bk, meas_path)
    return vers[-1][0] if vers else current(meas_path, bk=bk)[0]


def _load_state(bk, meas_path: str):
    """Fold the version chain → (ver, files_set | None, deltas_since_full).

    Walk backward from the newest version to the newest readable FULL
    snapshot, then fold the delta versions above it in order. An
    unreadable file (a reader racing an object-store PUT can only hit
    this on the very latest key) invalidates everything above it — the
    fold restarts below, so readers always see a consistent prefix.
    Returns files=None when there is no readable full snapshot (a tree
    :func:`current` has yet to adopt)."""
    vers = _versions(bk, meas_path)
    chain: list[tuple[int, dict]] = []
    base = None
    for ver, path in reversed(vers):
        try:
            obj = bk.read_json(path)
            # shape check up front: a parseable-but-malformed version
            # (hand-edited, foreign writer) must take the unreadable
            # path, not crash the fold later with a KeyError
            if obj.get("delta"):
                if not isinstance(obj.get("add"), list) or \
                        not isinstance(obj.get("remove"), list):
                    raise ValueError("malformed delta version")
            elif not isinstance(obj.get("files"), list):
                raise ValueError("malformed full snapshot")
        except Exception:
            chain = []  # versions above an unreadable file are unusable
            continue
        if obj.get("delta"):
            chain.append((ver, obj))
            continue
        base = (ver, obj)
        break
    if base is None:
        return 0, None, 0
    files = set(base[1]["files"])
    top = base[0]
    for ver, obj in sorted(chain):
        files.update(obj["add"])
        files.difference_update(obj["remove"])
        top = ver
    return top, files, len(chain)


def current(meas_path: str, bk=None,
            publish: bool = True) -> tuple[int, list[str]]:
    """(version, relative file list) of the current snapshot. A
    torn/unreadable latest version falls back to the previous one
    (rename is atomic locally; on an object store a reader racing the
    PUT may see the key before the body — the prior chain is always
    complete). A tree with no readable full snapshot is adopted first
    (:func:`adopt`); a missing directory is ``(0, [])`` and writes
    nothing. ``publish=False`` (a dry run) resolves a tree that was
    never committed to ``(0, live files)`` without adopting it."""
    bk = bk or backend_for(meas_path)
    ver, files, _ = _load_state(bk, meas_path)
    if files is None:
        if not bk.isdir(meas_path):
            return 0, []
        if not publish:
            return 0, sorted(live_glob(meas_path, bk=bk))
        adopt(meas_path, bk=bk)
        ver, files, _ = _load_state(bk, meas_path)
    return ver, sorted(files or ())


def adopt(meas_path: str, bk=None) -> int:
    """Commit the tree's live files as its snapshot; returns the current
    version. A tree that was never committed (even a missing one) gets
    :func:`commit`'s bootstrap: a full snapshot of :func:`live_glob`.
    A committed tree is RE-adopted after hand edits: add = live −
    committed − :func:`_retired`, remove = committed − live, and nothing
    is written when both are empty, so threads racing to adopt one fresh
    tree leave one bootstrap version. Re-adoption cannot tell a file
    dropped in by hand from a crash-leaked flush file; it only refuses
    the engine's own uncommitted files that :func:`_retired` names."""
    bk = bk or backend_for(meas_path)
    with _lock_for(meas_path):
        ver, files, _ = _load_state(bk, meas_path)
        if files is None:
            return commit(meas_path, bk=bk)
        live = set(live_glob(meas_path, bk=bk))
        add = live - files - _retired(bk, meas_path)
        remove = files - live
        if not add and not remove:
            return ver
        return commit(meas_path, add=sorted(add), remove=sorted(remove),
                      bk=bk)


def _retired(bk, meas_path: str) -> set[str]:
    """Relative paths re-adoption must never commit: files :func:`held`
    for a running read or named by a retained snapshot version
    (replaced, then a crash before their retire), and the outputs a
    leftover compaction job manifest records (in flight, or crashed
    before its commit: ``recover_incomplete`` decides those). Pruned
    history is not consulted."""
    out = held(bk, meas_path)
    for _, path in _versions(bk, meas_path):
        try:
            obj = bk.read_json(path)
        except Exception:
            continue
        for key in ("files", "add", "remove"):
            if isinstance(obj.get(key), list):
                out.update(obj[key])
    for m in bk.find_files(meas_path, suffix=".compact-manifest.json"):
        try:
            job = bk.read_json(m)
        except Exception:
            continue
        out.update(_rel(bk, meas_path, p) for p in job.get("published", []))
    return out


def data_files(meas_path: str, bk=None) -> list[str]:
    """Absolute paths of the current snapshot's data files."""
    bk = bk or backend_for(meas_path)
    _, rels = current(meas_path, bk=bk)
    return [bk.join(meas_path, r) for r in rels]


def history(meas_path: str, bk=None) -> list[dict]:
    """Listable snapshot versions (oldest first): {version, kind
    full|delta, committed_at (file mtime, best effort), n_files for
    fulls / n_add+n_remove for deltas} — how an operator discovers
    pinnable time-travel versions (``files_at``/?snapshot=N)."""
    bk = bk or backend_for(meas_path)
    out = []
    for ver, path in _versions(bk, meas_path):
        entry: dict = {"version": ver}
        try:
            entry["committed_at"] = bk.mtime(path)
        except Exception:
            entry["committed_at"] = None
        try:
            obj = bk.read_json(path)
            if obj.get("delta"):
                entry["kind"] = "delta"
                entry["n_add"] = len(obj.get("add", []))
                entry["n_remove"] = len(obj.get("remove", []))
            else:
                entry["kind"] = "full"
                entry["n_files"] = len(obj.get("files", []))
        except Exception:
            entry["kind"] = "unreadable"
        out.append(entry)
    return out


def files_at(meas_path: str, version: int, bk=None) -> list[str]:
    """Absolute file paths of snapshot ``version`` — TIME TRAVEL for
    reproducible reads (a training pipeline pins the dataset version it
    consumed; Delta/Iceberg `VERSION AS OF` semantics on the engine's
    own snapshot chain).

    Raises :class:`ValueError` when the version is unknown, pruned away
    (version files age out — same caveat as Delta time travel after
    VACUUM), or its chain is unreadable. The FILES it references must
    also still exist: a replaced version stays readable while a read
    that began before its :func:`retire` is running (:func:`reading`),
    and not after."""
    bk = bk or backend_for(meas_path)
    vers = dict(_versions(bk, meas_path))
    if version not in vers:
        raise ValueError(
            f"snapshot v{version} not available for {meas_path} "
            "(unknown or pruned)")
    # newest readable FULL snapshot at or below the pin, then fold
    # deltas (base, version]
    base = None
    for ver in sorted((v for v in vers if v <= version), reverse=True):
        try:
            obj = bk.read_json(vers[ver])
        except Exception:
            continue
        if not obj.get("delta") and isinstance(obj.get("files"), list):
            base = (ver, set(obj["files"]))
            break
    if base is None:
        raise ValueError(
            f"no readable full snapshot at or below v{version} "
            f"for {meas_path}")
    files = base[1]
    for ver in sorted(v for v in vers if base[0] < v <= version):
        try:
            obj = bk.read_json(vers[ver])
        except Exception as e:
            raise ValueError(
                f"snapshot chain for v{version} unreadable at v{ver}: {e}"
            ) from None
        if obj.get("delta"):
            files.update(obj.get("add", []))
            files.difference_update(obj.get("remove", []))
        elif isinstance(obj.get("files"), list):
            files = set(obj["files"])
    return [bk.join(meas_path, r) for r in sorted(files)]


def _is_live_data_file(rel: str) -> bool:
    """True for committed-shape data files: .parquet, inside the tree,
    not under any tmp/staging/dot directory."""
    if not rel.endswith(".parquet"):
        return False
    parts = rel.replace("\\", "/").split("/")
    for p in parts[:-1]:
        if p.startswith(".") or p.startswith("_"):
            return False
        if ".compact-tmp-" in p or ".delete-tmp-" in p:
            return False
    name = parts[-1]
    return ".delete-tmp-" not in name and not name.startswith(".")


def live_glob(meas_path: str, bk=None) -> list[str]:
    """Every live .parquet under the tree (tmp dirs, staging,
    dot/underscore dirs excluded) as RELATIVE paths — what adoption
    commits."""
    bk = bk or backend_for(meas_path)
    if not bk.isdir(meas_path):
        return []
    out = []
    for f in bk.find_files(meas_path, suffix=".parquet"):
        rel = bk.relpath(f, meas_path).replace("\\", "/")
        if _is_live_data_file(rel):
            out.append(rel)
    return out


def _rel(bk, meas_path: str, path: str) -> str:
    p = path.replace("\\", "/")
    base = meas_path.rstrip("/") + "/"
    if p.startswith(base):
        return p[len(base):]
    return p  # already relative


class CommitContention(RuntimeError):
    """CAS retries exhausted — pathological multi-writer contention on one
    measurement (dozens of out-of-process commits inside one call's
    window). The operation is safe to retry; nothing was published."""


def commit(meas_path: str, add=(), remove=(), bk=None,
           max_retries: int = 64) -> int:
    """Publish the next snapshot = current ∪ add − remove. Returns the new
    version. On a never-committed tree the base is a glob of live files
    (which already includes just-written adds), so the first commit
    adopts everything in place.

    Contract for writers: call AFTER the added files are fully written;
    then pass the removed files to :func:`retire`, never delete them.

    Multi-process safety (the A24 collapse's precondition — compaction /
    retention / delete may run as SEPARATE Spark jobs against a serving
    engine): the version file is published with a compare-and-swap —
    ``move_file_excl`` fails if ``vN+1`` already exists (hard-link EEXIST
    on local filesystems; the reference's Raft RegisterFile ordering,
    internal/compaction/manifest.go, plays this role natively). A loser
    rereads the new current snapshot and retries with its add/remove sets
    reapplied, so two processes committing concurrently lose neither's
    files. Threads in one process additionally serialize on the local
    lock (cheaper than burning CAS retries). Object-store backends
    without a conditional create degrade to check-then-move:
    single-writer-per-measurement there, as documented in
    ``StorageBackend.move_file_excl``."""
    bk = bk or backend_for(meas_path)
    add_rel = [_rel(bk, meas_path, p) for p in add]
    rm_rel = [_rel(bk, meas_path, p) for p in remove]
    with _lock_for(meas_path):
        stuck = 0
        prev_ver: int | None = None
        for _ in range(max_retries):
            ver, files, chain_len = _load_state(bk, meas_path)
            if files is None:
                files = set(live_glob(meas_path, bk=bk))
                chain_len = FOLD_EVERY  # bootstrap is always a full write
            files.update(add_rel)
            files.difference_update(rm_rel)
            # ZOMBIE detection: a permanently unreadable/malformed version
            # above the readable fold makes ver+1 collide forever. Engage
            # ONLY after several CAS losses with a NON-advancing fold —
            # a live racing committer always advances ver between rereads,
            # so this cannot misfire on a healthy concurrent writer and
            # last-writer-win away its files (TOCTOU). The supersede is a
            # FULL snapshot because readers drop deltas above a bad file.
            stuck = stuck + 1 if prev_ver == ver else 0
            prev_ver = ver
            force_full = False
            new_ver = ver + 1
            if stuck >= 3:
                max_exist = max(
                    (v for v, _ in _versions(bk, meas_path)), default=0)
                if max_exist > ver:
                    new_ver = max_exist + 1
                    force_full = True
            d = _snap_dir(bk, meas_path)
            bk.mkdirs(d)
            tmp = bk.join(
                d, f".v{new_ver:012d}.json.tmp-{uuid.uuid4().hex[:8]}")
            if force_full or chain_len + 1 >= FOLD_EVERY:
                # periodic fold: one full snapshot bounds the read chain
                obj = {"version": new_ver, "files": sorted(files)}
            else:
                # incremental: O(changes) bytes, not O(files)
                obj = {"version": new_ver, "delta": True,
                       "add": sorted(set(add_rel)),
                       "remove": sorted(set(rm_rel))}
            bk.write_json(tmp, obj)
            if not bk.move_file_excl(
                    tmp, bk.join(d, f"v{new_ver:012d}.json")):
                continue  # lost the race to another process: reread, retry
            # prune history beyond KEEP_VERSIONS — but never young files:
            # an age floor keeps a racing committer's just-read current
            # version from vanishing mid-CAS even under a version burst
            vers = _versions(bk, meas_path)
            for _, path in vers[:-KEEP_VERSIONS]:
                try:
                    if time.time() - bk.mtime(path) < PRUNE_MIN_AGE_S:
                        continue
                except (OSError, KeyError):
                    continue
                bk.remove_file_if_exists(path)
            return new_ver
        raise CommitContention(
            f"{meas_path}: snapshot CAS lost {max_retries} consecutive "
            "races — check for a runaway external committer")


def contains(meas_path: str, path: str, bk=None) -> bool:
    """Is ``path`` in the current snapshot?"""
    bk = bk or backend_for(meas_path)
    return _rel(bk, meas_path, path) in current(meas_path, bk=bk)[1]
