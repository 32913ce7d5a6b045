"""File-level edge→hub replication (reference internal/edgesync/ —
ledger.go, agent.go, receive.go, reconcile.go, hubindex.go; behavior
kept, code ours).

The unit of sync is the FILE, not the row: the engine already produces
immutable Parquet whose identity is (relative path, sha256), so shipping
files gives end-to-end integrity, zero hub-side re-ingestion, and
trivial idempotency. The layering mirrors the reference:

- :class:`SyncLedger` — durable SQLite record of what has been sent to
  which hub and how far (pending → in-flight → synced / failed /
  conflicted). Deliberately dumb: no transport knowledge.
- :class:`HubIndex` — what the hub holds (path → sha256), so reconcile
  answers without reading Parquet bytes (hubindex.go).
- :class:`HubReceiver` — hub side of one transfer: bytes stage under
  ``.sync-staging`` (outside every database namespace — a leading dot
  cannot be a database name), the digest is verified against the
  spoke's claim, and ONLY a match is promoted to the final path and
  committed into the hub measurement's snapshot — a mismatch never
  produces a byte where a reader looks (receive.go's ordering, with
  arc_spark.snapshots as the standalone stand-in for the reference's
  Raft manifest registration).
- :class:`Reconciler` semantics folded into the receiver:
  ``reconcile(entries)`` answers "which of these do you already have?"
  with a batch cap (reconcile.go MaxReconcileEntriesDefault) so
  discovery costs O(batches), not O(files); the spoke pages.
- :class:`SpokeAgent` — discovery (committed files only, via the spoke
  tree's snapshot — a crash-leaked orphan is never replicated) +
  sync loop: recover in-flight, reconcile, send missing, mark synced.
- transports: :class:`MemoryTransport` (in-process, tests) and
  :class:`HttpTransport` (the server's /api/v1/edge/* routes) behind
  one small interface (transport.go).

Scale: discovery is one snapshot read + set difference; reconcile pages
at ≤10k entries (~2 MB); file bytes stream through the storage backend
with the digest computed en route — no whole-tree rescans, no per-row
work anywhere.
"""

from __future__ import annotations

import hashlib
import sqlite3
import threading
import time
import uuid

from arc_spark.storage import backend_for

STAGING_PREFIX = ".sync-staging"
MAX_RECONCILE_ENTRIES = 10_000
# chunked-transfer part size (transfer path of internal/edgesync/): big
# enough to amortize round trips, small enough that neither end ever
# holds a whole file in memory and each HTTP request stays bounded
CHUNK_BYTES = 8 << 20

_LEDGER_SCHEMA = """
CREATE TABLE IF NOT EXISTS sync_ledger (
    hub_id TEXT NOT NULL,
    path TEXT NOT NULL,
    sha256 TEXT NOT NULL,
    size_bytes INTEGER NOT NULL,
    state TEXT NOT NULL DEFAULT 'pending',
    attempts INTEGER NOT NULL DEFAULT 0,
    last_error TEXT,
    updated_at REAL NOT NULL,
    PRIMARY KEY (hub_id, path)
);
CREATE INDEX IF NOT EXISTS idx_ledger_state
    ON sync_ledger (hub_id, state, updated_at);
"""


class ReconcileTooLarge(Exception):
    """Batch exceeds the hub's cap; the spoke's remedy is to split it,
    not to retry unchanged (reconcile.go ErrReconcileTooLarge)."""


class SyncConflict(Exception):
    """The hub holds a DIFFERENT sha256 at this path. Files are
    immutable; the hub never overwrites — operator intervention."""


def validate_sync_path(path: str) -> None:
    """A syncable path is db/measurement/<partition...>/<file>.parquet;
    no absolute paths, no dot segments (receive.go validateSyncPath)."""
    p = path.replace("\\", "/")
    parts = p.split("/")
    if (p.startswith("/") or len(parts) < 3 or not p.endswith(".parquet")
            or any(seg in ("", ".", "..") or seg.startswith(".")
                   for seg in parts)
            # in-flight compaction/delete artifacts use a SUFFIX marker
            # ('hour=03.compact-tmp-<id>'), so the dot-prefix rule above
            # does not catch them; same rules as snapshots._is_live_data_file
            or any(".compact-tmp-" in seg or ".delete-tmp-" in seg
                   for seg in parts)):
        raise ValueError(f"not a syncable path: {path!r}")


class SyncLedger:
    """Durable what-was-sent-where record (ledger.go)."""

    def __init__(self, db_path: str = ":memory:"):
        self._db = sqlite3.connect(db_path, check_same_thread=False)
        self._lock = threading.Lock()
        with self._lock:
            self._db.executescript(_LEDGER_SCHEMA)
            self._db.commit()

    def track(self, hub_id: str, path: str, sha256: str, size: int) -> bool:
        """Record a file as pending; already-tracked paths are left
        untouched (a re-discovery must not reset a synced entry)."""
        with self._lock:
            cur = self._db.execute(
                "INSERT OR IGNORE INTO sync_ledger "
                "(hub_id, path, sha256, size_bytes, state, updated_at) "
                "VALUES (?, ?, ?, ?, 'pending', ?)",
                (hub_id, path, sha256, size, time.time()))
            self._db.commit()
            return cur.rowcount > 0

    def _set_state(self, hub_id: str, path: str, state: str,
                   error: str | None = None, bump_attempts: bool = False):
        with self._lock:
            self._db.execute(
                "UPDATE sync_ledger SET state=?, last_error=?, "
                "attempts=attempts+?, updated_at=? "
                "WHERE hub_id=? AND path=?",
                (state, error, 1 if bump_attempts else 0, time.time(),
                 hub_id, path))
            self._db.commit()

    def mark_inflight(self, hub_id: str, path: str) -> None:
        self._set_state(hub_id, path, "inflight", bump_attempts=True)

    def mark_synced(self, hub_id: str, path: str) -> None:
        self._set_state(hub_id, path, "synced")

    def mark_conflicted(self, hub_id: str, path: str, err: str) -> None:
        self._set_state(hub_id, path, "conflicted", error=err)

    def mark_failed(self, hub_id: str, path: str, err: str,
                    max_attempts: int = 5) -> None:
        """Back to pending for retry until ``max_attempts``, then a
        terminal 'failed' (ledger.go MarkFailed)."""
        with self._lock:
            row = self._db.execute(
                "SELECT attempts FROM sync_ledger WHERE hub_id=? AND path=?",
                (hub_id, path)).fetchone()
            state = ("failed" if row and row[0] >= max_attempts
                     else "pending")
            self._db.execute(
                "UPDATE sync_ledger SET state=?, last_error=?, updated_at=? "
                "WHERE hub_id=? AND path=?",
                (state, err, time.time(), hub_id, path))
            self._db.commit()

    def recover_inflight(self) -> int:
        """Crash recovery: anything in-flight when the process died goes
        back to pending (ledger.go RecoverInFlight)."""
        with self._lock:
            cur = self._db.execute(
                "UPDATE sync_ledger SET state='pending', updated_at=? "
                "WHERE state='inflight'", (time.time(),))
            self._db.commit()
            return cur.rowcount

    def pending(self, hub_id: str, limit: int = 1000) -> list[dict]:
        with self._lock:
            rows = self._db.execute(
                "SELECT path, sha256, size_bytes FROM sync_ledger "
                "WHERE hub_id=? AND state='pending' "
                "ORDER BY updated_at LIMIT ?",
                (hub_id, limit)).fetchall()
        return [{"path": p, "sha256": s, "size": n} for p, s, n in rows]

    def tracked_paths(self, hub_id: str) -> set[str]:
        with self._lock:
            rows = self._db.execute(
                "SELECT path FROM sync_ledger WHERE hub_id=?",
                (hub_id,)).fetchall()
        return {r[0] for r in rows}

    def stats(self, hub_id: str) -> dict:
        with self._lock:
            rows = self._db.execute(
                "SELECT state, COUNT(*), COALESCE(SUM(size_bytes),0) "
                "FROM sync_ledger WHERE hub_id=? GROUP BY state",
                (hub_id,)).fetchall()
        out = {s: {"files": c, "bytes": b} for s, c, b in rows}
        out.setdefault("pending", {"files": 0, "bytes": 0})
        out.setdefault("synced", {"files": 0, "bytes": 0})
        return out

    def prune_synced(self, retention_days: float = 30.0) -> int:
        cutoff = time.time() - retention_days * 86400
        with self._lock:
            cur = self._db.execute(
                "DELETE FROM sync_ledger WHERE state='synced' "
                "AND updated_at < ?", (cutoff,))
            self._db.commit()
            return cur.rowcount


class HubIndex:
    """path → sha256 of what the hub holds (hubindex.go): reconcile
    answers from here, never from Parquet bytes."""

    def __init__(self, db_path: str = ":memory:"):
        self._db = sqlite3.connect(db_path, check_same_thread=False)
        self._lock = threading.Lock()
        with self._lock:
            self._db.execute(
                "CREATE TABLE IF NOT EXISTS hub_files ("
                "path TEXT PRIMARY KEY, sha256 TEXT NOT NULL, "
                "size_bytes INTEGER, spoke_id TEXT, received_at REAL)")
            self._db.commit()

    def record(self, path: str, sha256: str, size: int,
               spoke_id: str = "") -> None:
        with self._lock:
            self._db.execute(
                "INSERT OR REPLACE INTO hub_files VALUES (?, ?, ?, ?, ?)",
                (path, sha256, size, spoke_id, time.time()))
            self._db.commit()

    def lookup(self, paths: list[str]) -> dict[str, str]:
        out: dict[str, str] = {}
        with self._lock:
            for i in range(0, len(paths), 500):
                chunk = paths[i:i + 500]
                q = ",".join("?" * len(chunk))
                for p, s in self._db.execute(
                        f"SELECT path, sha256 FROM hub_files "
                        f"WHERE path IN ({q})", chunk):
                    out[p] = s
        return out

    def count(self) -> int:
        with self._lock:
            return self._db.execute(
                "SELECT COUNT(*) FROM hub_files").fetchone()[0]


class HubReceiver:
    """Hub side: verify-then-promote file receive + capped reconcile."""

    def __init__(self, root: str, index: HubIndex | None = None,
                 max_reconcile: int = MAX_RECONCILE_ENTRIES):
        self.root = root
        self.index = index or HubIndex()
        self.max_reconcile = max_reconcile
        self.activity: dict[str, dict] = {}  # spoke_id → counters
        # receive() runs under ThreadingHTTPServer: without per-path
        # serialization two concurrent uploads of the same path could both
        # pass the conflict check and the later move would overwrite the
        # earlier's committed bytes
        self._path_locks: dict[str, threading.Lock] = {}
        self._locks_guard = threading.Lock()
        # in-flight chunked uploads: upload_id → session (staged stream +
        # rolling sha256 + offset). In-memory by design: a hub restart
        # drops sessions and the spoke's next begin() restarts from 0;
        # the orphaned .part file is swept with the rest of staging.
        self._uploads: dict[str, dict] = {}

    def _path_lock(self, path: str) -> threading.Lock:
        with self._locks_guard:
            return self._path_locks.setdefault(path, threading.Lock())

    def reconcile(self, entries: list[dict]) -> dict:
        """{"missing": [...], "present": [...], "conflicts": [...]} for
        ≤``max_reconcile`` {path, sha256} entries; larger batches raise
        (the spoke pages — discovery stays O(batches))."""
        if len(entries) > self.max_reconcile:
            raise ReconcileTooLarge(
                f"{len(entries)} entries > cap {self.max_reconcile}")
        for e in entries:
            validate_sync_path(e["path"])
        have = self.index.lookup([e["path"] for e in entries])
        missing, present, conflicts = [], [], []
        for e in entries:
            got = have.get(e["path"])
            if got is None:
                missing.append(e["path"])
            elif got == e["sha256"]:
                present.append(e["path"])
            else:
                conflicts.append(e["path"])
        return {"missing": missing, "present": present,
                "conflicts": conflicts}

    def receive(self, path: str, sha256: str, data: bytes,
                spoke_id: str = "") -> dict:
        """Stage → verify → promote → snapshot-commit → index.

        Idempotent: same (path, sha256) again → already_present. A
        DIFFERENT sha at an indexed path raises :class:`SyncConflict`
        (immutable files; never overwrite)."""
        validate_sync_path(path)
        digest = hashlib.sha256(data).hexdigest()
        if digest != sha256:
            raise ValueError(
                f"sha256 mismatch for {path}: claimed {sha256[:12]}…, "
                f"got {digest[:12]}…")
        with self._path_lock(path):
            early = self._check_indexed(path, sha256)
            if early is not None:
                return early
            bk = backend_for(self.root)
            staging = bk.join(self.root, STAGING_PREFIX)
            bk.mkdirs(staging)
            staged = bk.join(staging, f"{uuid.uuid4().hex}.parquet")
            bk.write_bytes(staged, data)
            self._promote_locked(bk, path, sha256, staged, len(data),
                                 spoke_id)
        self._post_promote(path, len(data), spoke_id)
        return {"status": "received", "path": path, "bytes": len(data)}

    def _check_indexed(self, path: str, sha256: str) -> dict | None:
        got = self.index.lookup([path]).get(path)
        if got is None:
            return None
        if got == sha256:
            return {"status": "already_present", "path": path}
        raise SyncConflict(f"{path}: hub holds {got[:12]}…, "
                           f"spoke sent {sha256[:12]}…")

    def _promote_locked(self, bk, path: str, sha256: str, staged: str,
                        size: int, spoke_id: str) -> None:
        """Caller holds the path lock and has VERIFIED the digest."""
        final = bk.join(self.root, path)
        bk.mkdirs(bk.dirname(final))
        bk.move_file(staged, final)
        # reader visibility via the snapshot commit (standalone's
        # stand-in for the reference's Raft-manifest RegisterFile)
        parts = path.replace("\\", "/").split("/")
        db, meas = parts[0], parts[1]
        from arc_spark import snapshots

        meas_path = bk.join(self.root, db, meas)
        snapshots.commit(meas_path, add=[final], bk=bk)
        self.index.record(path, sha256, size, spoke_id)

    def _post_promote(self, path: str, size: int, spoke_id: str) -> None:
        act = self.activity.setdefault(
            spoke_id or "unknown", {"files": 0, "bytes": 0, "last_seen": 0})
        act["files"] += 1
        act["bytes"] += size
        act["last_seen"] = time.time()

    # -- chunked transfer (no whole-file bytes on either end) --------------
    def begin(self, path: str, sha256: str, size: int,
              spoke_id: str = "") -> dict:
        """Open (or resume) a chunked upload. Returns {"upload_id",
        "offset", "status"} — offset > 0 means the spoke resumes an
        interrupted transfer from that byte."""
        validate_sync_path(path)
        if size < 0:
            raise ValueError("negative size")
        with self._path_lock(path):
            early = self._check_indexed(path, sha256)
            if early is not None:
                early.update({"upload_id": "", "offset": size})
                return early
        with self._locks_guard:
            for uid, s in self._uploads.items():
                if (s["path"], s["sha256"]) == (path, sha256):
                    return {"upload_id": uid, "offset": s["offset"],
                            "status": "resume"}
            bk = backend_for(self.root)
            staging = bk.join(self.root, STAGING_PREFIX)
            bk.mkdirs(staging)
            uid = uuid.uuid4().hex
            staged = bk.join(staging, f"{uid}.part")
            self._uploads[uid] = {
                "path": path, "sha256": sha256, "size": size,
                "staged": staged, "spoke": spoke_id, "offset": 0,
                "hasher": hashlib.sha256(),
                "stream": bk.fs.open_output_stream(bk.fs_path(staged)),
                "lock": threading.Lock(),
            }
            return {"upload_id": uid, "offset": 0, "status": "begin"}

    def append(self, upload_id: str, offset: int, chunk: bytes) -> dict:
        """Append one part at the expected offset (strict ordering keeps
        the rolling digest meaningful); returns the next offset."""
        with self._locks_guard:
            s = self._uploads.get(upload_id)
        if s is None:
            raise ValueError(f"unknown upload {upload_id!r} "
                             "(expired or never begun — call begin again)")
        with s["lock"]:
            if offset != s["offset"]:
                raise ValueError(
                    f"offset mismatch for {s['path']}: expected "
                    f"{s['offset']}, got {offset}")
            if s["offset"] + len(chunk) > s["size"]:
                raise ValueError(f"upload overflows declared size "
                                 f"{s['size']} for {s['path']}")
            s["stream"].write(chunk)
            s["hasher"].update(chunk)
            s["offset"] += len(chunk)
            return {"offset": s["offset"]}

    def finish(self, upload_id: str) -> dict:
        """Verify the ROLLING digest against the claim, then promote —
        a mismatch removes the staged bytes and never touches a path a
        reader can see (the same verify-then-promote contract as the
        single-shot receive)."""
        with self._locks_guard:
            s = self._uploads.pop(upload_id, None)
        if s is None:
            raise ValueError(f"unknown upload {upload_id!r}")
        bk = backend_for(self.root)
        with s["lock"]:
            s["stream"].close()
            if s["offset"] != s["size"]:
                bk.remove_file_if_exists(s["staged"])
                raise ValueError(
                    f"incomplete upload for {s['path']}: "
                    f"{s['offset']}/{s['size']} bytes")
            digest = s["hasher"].hexdigest()
            if digest != s["sha256"]:
                bk.remove_file_if_exists(s["staged"])
                raise ValueError(
                    f"sha256 mismatch for {s['path']}: claimed "
                    f"{s['sha256'][:12]}…, got {digest[:12]}…")
        path = s["path"]
        with self._path_lock(path):
            early = self._check_indexed(path, s["sha256"])
            if early is not None:
                bk.remove_file_if_exists(s["staged"])
                return early
            self._promote_locked(bk, path, s["sha256"], s["staged"],
                                 s["size"], s["spoke"])
        self._post_promote(path, s["size"], s["spoke"])
        return {"status": "received", "path": path, "bytes": s["size"]}


class MemoryTransport:
    """In-process transport (transport_memory.go) — tests and
    single-process topologies."""

    def __init__(self, receiver: HubReceiver, spoke_id: str = "spoke"):
        self._r = receiver
        self._spoke = spoke_id

    def reconcile(self, entries: list[dict]) -> dict:
        return self._r.reconcile(entries)

    def upload(self, path: str, sha256: str, data: bytes) -> dict:
        return self._r.receive(path, sha256, data, spoke_id=self._spoke)

    def upload_stream(self, path: str, sha256: str, size: int,
                      open_at) -> dict:
        """Chunked path: ``open_at(offset)`` yields byte chunks from that
        offset — the spoke never materializes the file."""
        st = self._r.begin(path, sha256, size, spoke_id=self._spoke)
        if st.get("status") == "already_present":
            return st
        offset = st["offset"]
        for chunk in open_at(offset):
            offset = self._r.append(st["upload_id"], offset, chunk)["offset"]
        return self._r.finish(st["upload_id"])


class HttpTransport:
    """Spoke-side client for the hub's /api/v1/edge/* routes."""

    def __init__(self, base_url: str, token: str = "", spoke_id: str = "spoke",
                 timeout_s: float = 60.0):
        self.base_url = base_url.rstrip("/")
        self.token = token
        self.spoke_id = spoke_id
        self.timeout_s = timeout_s

    def _headers(self) -> dict:
        h = {"X-Arc-Spoke-Id": self.spoke_id}
        if self.token:
            h["Authorization"] = f"Bearer {self.token}"
        return h

    def reconcile(self, entries: list[dict]) -> dict:
        import json as _json
        import urllib.request

        req = urllib.request.Request(
            self.base_url + "/api/v1/edge/reconcile",
            data=_json.dumps({"entries": entries}).encode(),
            headers={**self._headers(), "Content-Type": "application/json"},
            method="POST")
        with urllib.request.urlopen(req, timeout=self.timeout_s) as r:
            return _json.load(r)

    def upload(self, path: str, sha256: str, data: bytes) -> dict:
        import json as _json
        import urllib.parse
        import urllib.request

        q = urllib.parse.urlencode({"path": path, "sha256": sha256})
        req = urllib.request.Request(
            self.base_url + "/api/v1/edge/upload?" + q, data=data,
            headers={**self._headers(),
                     "Content-Type": "application/octet-stream"},
            method="POST")
        with urllib.request.urlopen(req, timeout=self.timeout_s) as r:
            return _json.load(r)

    def _post(self, route: str, params: dict, body: bytes = b"",
              json_body: dict | None = None) -> dict:
        import json as _json
        import urllib.parse
        import urllib.request

        headers = dict(self._headers())
        if json_body is not None:
            body = _json.dumps(json_body).encode()
            headers["Content-Type"] = "application/json"
        else:
            headers["Content-Type"] = "application/octet-stream"
        url = self.base_url + route
        if params:
            url += "?" + urllib.parse.urlencode(params)
        req = urllib.request.Request(url, data=body, headers=headers,
                                     method="POST")
        with urllib.request.urlopen(req, timeout=self.timeout_s) as r:
            return _json.load(r)

    def upload_stream(self, path: str, sha256: str, size: int,
                      open_at) -> dict:
        """Chunked upload with resume: begin → append parts from the
        hub's offset → finish. A mid-stream offset desync (hub applied a
        part whose ack we lost) re-begins to learn the hub's offset and
        continues — at most one extra round trip per network incident."""
        import urllib.error

        attempts = 0
        while True:
            st = self._post("/api/v1/edge/upload/begin",
                            {}, json_body={"path": path, "sha256": sha256,
                                           "size": size})
            if st.get("status") == "already_present":
                return st
            offset = st["offset"]
            try:
                for chunk in open_at(offset):
                    offset = self._post(
                        "/api/v1/edge/upload/append",
                        {"upload_id": st["upload_id"], "offset": offset},
                        body=chunk)["offset"]
                return self._post("/api/v1/edge/upload/finish",
                                  {"upload_id": st["upload_id"]}, b"")
            except urllib.error.HTTPError as e:
                attempts += 1
                if e.code != 400 or attempts > 3:
                    raise
                # offset desync / expired session: re-begin to resync


class SpokeAgent:
    """Discovery + sync loop (agent.go): committed files only, resumable
    through the ledger, idempotent end to end."""

    def __init__(self, root: str, ledger: SyncLedger, transport,
                 hub_id: str = "hub", max_attempts: int = 5,
                 reconcile_page: int = MAX_RECONCILE_ENTRIES,
                 chunk_bytes: int = CHUNK_BYTES):
        self.root = root
        self.ledger = ledger
        self.transport = transport
        self.hub_id = hub_id
        self.max_attempts = max_attempts
        self.reconcile_page = reconcile_page
        self.chunk_bytes = chunk_bytes

    def _chunks_from(self, bk, path: str, offset: int):
        """Stream a file's bytes from ``offset`` in chunk_bytes parts —
        the spoke never holds more than one part in memory."""
        with bk.fs.open_input_file(bk.fs_path(path)) as f:
            if offset:
                f.seek(offset)
            while True:
                b = f.read(self.chunk_bytes)
                if not b:
                    return
                yield b

    def _committed_files(self) -> list[str]:
        """Relative paths of every COMMITTED data file under the spoke
        root — snapshot-resolved per measurement (orphans from crashed
        flushes are invisible here exactly as they are to readers)."""
        from arc_spark import snapshots

        bk = backend_for(self.root)
        out: list[str] = []
        if not bk.isdir(self.root):
            return out
        for db in bk.list_dirs(self.root):
            for meas in bk.list_dirs(bk.join(self.root, db)):
                meas_path = bk.join(self.root, db, meas)
                for r in snapshots.current(meas_path, bk=bk)[1]:
                    rel = f"{db}/{meas}/{r}"
                    try:
                        validate_sync_path(rel)
                    except ValueError:
                        continue
                    out.append(rel)
        return out

    def discover(self) -> int:
        """Hash + track files not yet in the ledger. Returns new count."""
        bk = backend_for(self.root)
        tracked = self.ledger.tracked_paths(self.hub_id)
        added = 0
        for rel in self._committed_files():
            if rel in tracked:
                continue
            data = bk.read_bytes(bk.join(self.root, rel))
            self.ledger.track(self.hub_id, rel,
                              hashlib.sha256(data).hexdigest(), len(data))
            added += 1
        return added

    def run(self, batch: int = 1000) -> dict:
        """One sync round: recover in-flight → page through pending →
        reconcile → upload missing → mark synced/conflicted/failed."""
        recovered = self.ledger.recover_inflight()
        bk = backend_for(self.root)
        sent = skipped = conflicted = failed = 0
        while True:
            pending = self.ledger.pending(self.hub_id, limit=batch)
            if not pending:
                break
            progressed = False
            for i in range(0, len(pending), self.reconcile_page):
                page = pending[i:i + self.reconcile_page]
                verdict = self.transport.reconcile(
                    [{"path": e["path"], "sha256": e["sha256"]}
                     for e in page])
                missing = set(verdict["missing"])
                for e in page:
                    path = e["path"]
                    if path in missing:
                        self.ledger.mark_inflight(self.hub_id, path)
                        try:
                            full = bk.join(self.root, path)
                            size = e.get("size", 0)
                            if (size > self.chunk_bytes
                                    and hasattr(self.transport,
                                                "upload_stream")):
                                # chunked: bounded memory both ends,
                                # resumable from the hub's offset
                                self.transport.upload_stream(
                                    path, e["sha256"], size,
                                    lambda off, f=full:
                                        self._chunks_from(bk, f, off))
                            else:
                                data = bk.read_bytes(full)
                                self.transport.upload(
                                    path, e["sha256"], data)
                            self.ledger.mark_synced(self.hub_id, path)
                            sent += 1
                            progressed = True
                        except SyncConflict as exc:
                            self.ledger.mark_conflicted(
                                self.hub_id, path, str(exc))
                            conflicted += 1
                            progressed = True
                        except Exception as exc:
                            self.ledger.mark_failed(
                                self.hub_id, path, str(exc),
                                max_attempts=self.max_attempts)
                            failed += 1
                    elif path in set(verdict["present"]):
                        self.ledger.mark_synced(self.hub_id, path)
                        skipped += 1
                        progressed = True
                    else:  # hub holds a different sha
                        self.ledger.mark_conflicted(
                            self.hub_id, path, "hub holds different sha256")
                        conflicted += 1
                        progressed = True
            if not progressed:
                break  # everything left just failed; let the next run retry
        return {"recovered": recovered, "sent": sent,
                "already_present": skipped, "conflicted": conflicted,
                "failed": failed}
