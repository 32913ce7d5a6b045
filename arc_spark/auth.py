"""Token auth + RBAC persistence (reference internal/auth/: hashed API
tokens in SQLite, per-token allowed-table lists, expiry, rotation,
last-used tracking).

Tokens are stored as SHA-256 hashes — the plaintext is returned exactly
once at creation/rotation and never persisted (reference auth/auth.go
generateToken/CreateToken). The allowed-tables set rides in the same row
as JSON; ``None`` means unrestricted (admin), matching ``QueryService``'s
RBAC semantics where an absent policy allows all tables. ``expires_at``
mirrors the reference's nullable ExpiresAt (auth.go:72): an expired token
verifies as None exactly like a revoked one. ``rotate`` re-mints the
secret in place, keeping name/permissions (the reference's rotate path);
``last_used_at`` is stamped on successful verification (auth.go
recordLastUsed), at most once per ``LAST_USED_RESOLUTION_S`` per token:
a stamp younger than that is left alone, so a busy token costs one
SQLite write a minute, not one per request (the reference batches its
stamps for the same reason).

``AuthStore.tables_view()`` adapts the store to the mapping protocol
``QueryService.allowed_tables`` expects (``token in m`` / ``m[token]``),
so the engine-side RBAC check (plan-walk table extraction, A11) is
unchanged — only the policy source moves from an in-memory dict to SQLite.
"""

from __future__ import annotations

import hashlib
import json
import secrets
import sqlite3
import threading
import time


#: a verify rewrites ``last_used_at`` only once the stored stamp is at
#: least this old
LAST_USED_RESOLUTION_S = 60.0


def _hash(token: str) -> str:
    return hashlib.sha256(token.encode()).hexdigest()


# Sentinel for "deliberately NO OSS permissions" (an RBAC-only token whose
# access comes solely from team/role grants). Exists because the permissions
# argument is overloaded: "" means "use the default read,write" (reference
# auth.go:28-58 PermissionsNone/storePermissions — without the sentinel a
# least-privilege RBAC-only token would silently upgrade to read,write).
PERMISSIONS_NONE = "\x00none"


def _store_permissions(permissions: str | None) -> str:
    """"" / None → "read,write" (default contract); PERMISSIONS_NONE → ""
    (RBAC-only); anything else as-is (reference storePermissions)."""
    if permissions is None or permissions == "":
        return "read,write"
    if permissions == PERMISSIONS_NONE:
        return ""
    return permissions


class AuthStore:
    def __init__(self, path: str = ":memory:"):
        # check_same_thread=False + our own lock: the HTTP server handles
        # requests on a thread pool
        self._db = sqlite3.connect(path, check_same_thread=False)
        self._lock = threading.Lock()
        with self._lock:
            self._db.execute(
                """CREATE TABLE IF NOT EXISTS tokens (
                       token_hash TEXT PRIMARY KEY,
                       name TEXT UNIQUE NOT NULL,
                       allowed_tables TEXT,     -- JSON list or NULL (admin)
                       created_at REAL NOT NULL,
                       revoked INTEGER NOT NULL DEFAULT 0
                   )"""
            )
            # additive migration for pre-expiry stores (NULL = no expiry /
            # never used)
            cols = {r[1] for r in self._db.execute("PRAGMA table_info(tokens)")}
            if "expires_at" not in cols:
                self._db.execute(
                    "ALTER TABLE tokens ADD COLUMN expires_at REAL")
            if "last_used_at" not in cols:
                self._db.execute(
                    "ALTER TABLE tokens ADD COLUMN last_used_at REAL")
            # OSS permission list (CSV of read/write/delete/admin); NULL on
            # pre-migration rows verifies as the "read,write" default
            if "permissions" not in cols:
                self._db.execute(
                    "ALTER TABLE tokens ADD COLUMN permissions TEXT")
            self._db.commit()

    # -- management --------------------------------------------------------
    def create_token(
        self,
        name: str,
        allowed_tables: list[str] | None = None,
        expires_at: float | None = None,
        permissions: str | None = None,
    ) -> str:
        """Mint a token; returns the plaintext ONCE. Raises on name reuse.
        ``expires_at`` is a unix timestamp; None = never expires.
        ``permissions`` is a CSV of read/write/delete/admin: None/"" →
        the "read,write" default, PERMISSIONS_NONE → empty (RBAC-only)."""
        token = secrets.token_hex(24)
        with self._lock:
            self._db.execute(
                "INSERT INTO tokens (token_hash, name, allowed_tables,"
                " created_at, expires_at, permissions)"
                " VALUES (?, ?, ?, ?, ?, ?)",
                (
                    _hash(token),
                    name,
                    json.dumps(sorted(allowed_tables)) if allowed_tables is not None else None,
                    time.time(),
                    expires_at,
                    _store_permissions(permissions),
                ),
            )
            self._db.commit()
        return token

    def revoke(self, name: str) -> bool:
        with self._lock:
            cur = self._db.execute(
                "UPDATE tokens SET revoked = 1 WHERE name = ?", (name,)
            )
            self._db.commit()
            return cur.rowcount > 0

    def rotate(self, name: str) -> str | None:
        """Re-mint the secret for a live token in place: same name, same
        permissions, same expiry; the OLD plaintext stops verifying
        immediately. Returns the new plaintext once, or None for an
        unknown/revoked name (reference token rotation)."""
        token = secrets.token_hex(24)
        with self._lock:
            cur = self._db.execute(
                "UPDATE tokens SET token_hash = ? WHERE name = ? AND revoked = 0",
                (_hash(token), name),
            )
            self._db.commit()
            return token if cur.rowcount > 0 else None

    def list_tokens(self) -> list[dict]:
        with self._lock:
            rows = self._db.execute(
                "SELECT name, allowed_tables, created_at, revoked,"
                " expires_at, last_used_at, permissions FROM tokens"
            ).fetchall()
        return [
            {"name": n, "allowed_tables": json.loads(a) if a else None,
             "created_at": c, "revoked": bool(r), "expires_at": e,
             "last_used_at": lu,
             "permissions": (["read", "write"] if p is None
                             else [x for x in p.split(",") if x])}
            for n, a, c, r, e, lu, p in rows
        ]

    # -- verification ------------------------------------------------------
    def verify(self, token: str, now: float | None = None) -> dict | None:
        """(name, allowed set | None) for a live, unexpired token, else
        None. Stamps ``last_used_at`` on success when the stored stamp is
        older than ``LAST_USED_RESOLUTION_S``."""
        if not token:
            return None
        t = now if now is not None else time.time()
        with self._lock:
            row = self._db.execute(
                "SELECT name, allowed_tables, expires_at, permissions,"
                " last_used_at FROM tokens"
                " WHERE token_hash = ? AND revoked = 0",
                (_hash(token),),
            ).fetchone()
            if row is None:
                return None
            name, allowed, expires_at, perms, last_used = row
            if expires_at is not None and t >= expires_at:
                return None
            if last_used is None or t - last_used >= LAST_USED_RESOLUTION_S:
                self._db.execute(
                    "UPDATE tokens SET last_used_at = ? WHERE name = ?",
                    (t, name))
                self._db.commit()
        # NULL permissions = pre-migration row → the read,write default;
        # stored-empty = deliberate RBAC-only token → empty list
        if perms is None:
            perm_list = ["read", "write"]
        else:
            perm_list = [p for p in perms.split(",") if p]
        return {
            "name": name,
            "allowed_tables": set(json.loads(allowed)) if allowed else None,
            "permissions": perm_list,
        }

    def tables_view(self) -> "AuthTablesView":
        return AuthTablesView(self)


class AuthTablesView:
    """Mapping adapter: QueryService.allowed_tables protocol over the store.

    ``token in view`` → the token has a RESTRICTED policy (admin/unknown
    tokens return False, which QueryService treats as allow-all — unknown
    tokens are rejected earlier, at the HTTP auth step)."""

    def __init__(self, store: AuthStore):
        self._store = store

    def __contains__(self, token: str) -> bool:
        info = self._store.verify(token)
        return info is not None and info["allowed_tables"] is not None

    def __getitem__(self, token: str) -> set[str]:
        info = self._store.verify(token)
        if info is None or info["allowed_tables"] is None:
            raise KeyError(token)
        return info["allowed_tables"]
