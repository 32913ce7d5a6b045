"""Hot→cold storage tiering (reference A35, /root/reference/internal/tiering/
migrator.go, metadata.go, policy.go).

Age-based migration of whole day-partition directories from the hot root to
a cold root. Reads stay transparent: :class:`arc_spark.catalog.
MeasurementCatalog` already unions hot ∪ cold paths per measurement
(reference A4 buildMultiTierReadParquet), so a migrated partition is
invisible to queries except for storage latency.

The hot and cold roots may live on DIFFERENT storage backends
(:mod:`arc_spark.storage`; reference internal/storage/backend.go) — the
canonical deployment tiers local NVMe to an object store. Every move is
copy → commit cold add → commit hot remove → retire hot, over exactly the
files the hot snapshot lists for the day, so a hot file is only deleted
after both commits (crash leaves a duplicate, never a loss — the
catalog's union read tolerates the duplicate window).
"""

from __future__ import annotations

import datetime as dt

import pyarrow.fs as pafs

from arc_spark import snapshots
from arc_spark.storage import backend_for


def _day_dirs(meas_path: str) -> list[str]:
    """All year=/month=/day= directories under a measurement path."""
    return backend_for(meas_path).partition_dirs(
        meas_path, ["year=", "month=", "day="]
    )


def _dir_day(day_dir: str) -> dt.datetime:
    parts = dict(p.split("=") for p in day_dir.split("/") if "=" in p)
    return dt.datetime(int(parts["year"]), int(parts["month"]), int(parts["day"]))


def migrate_to_cold(
    root: str,
    cold_root: str,
    db: str,
    measurement: str,
    older_than_days: int,
    now: dt.datetime | None = None,
) -> list[str]:
    """Move day partitions older than the cutoff to the cold root.

    Moves exactly the hot snapshot's files under each day: the cold
    commit adds their copies, the hot commit removes them, and only they
    are retired (``snapshots.retire``). Returns the list of migrated
    day-relative paths. Safe to re-run; a partially-migrated day is
    completed, reusing the copies a crashed run left.
    """
    hot_bk = backend_for(root)
    cold_bk = backend_for(cold_root)
    now = now or dt.datetime.now()
    cutoff = now - dt.timedelta(days=older_than_days)
    hot_meas = hot_bk.join(root, db, measurement)
    cold_meas = cold_bk.join(cold_root, db, measurement)
    # copy even on one backend: a whole-dir rename would yank files out
    # from under the committed hot snapshot before any commit could
    # follow (readers error on missing files), whereas copy → commit cold
    # add → commit hot remove → retire hot is re-runnable from every
    # crash point (worst window: the day visible on both tiers, healed by
    # the next run)
    committed = set(snapshots.data_files(hot_meas, bk=hot_bk))
    moved: list[str] = []
    for day_dir in _day_dirs(hot_meas):
        if _dir_day(day_dir) >= cutoff:
            continue
        # the day's COMMITTED files only: an uncommitted orphan (a crashed
        # flush's file) must not become visible by changing tiers
        files = [f for f in hot_bk.find_files(day_dir, suffix=".parquet")
                 if f in committed]
        if not files:
            continue
        rel = hot_bk.relpath(day_dir, hot_meas)
        dest = cold_bk.join(cold_meas, rel)
        copies = [cold_bk.join(dest, hot_bk.relpath(f, day_dir))
                  for f in files]
        for src, dst in zip(files, copies):
            if cold_bk.exists(dst):
                continue  # copied by a run that crashed before its commits
            cold_bk.mkdirs(cold_bk.dirname(dst))
            pafs.copy_files(
                hot_bk.fs_path(src),
                cold_bk.fs_path(dst),
                source_filesystem=hot_bk.fs,
                destination_filesystem=cold_bk.fs,
            )
        snapshots.commit(cold_meas, add=copies, bk=cold_bk)
        snapshots.commit(hot_meas, remove=files, bk=hot_bk)
        snapshots.retire(hot_meas, files)
        moved.append(rel)
    return moved


def tier_report(root: str, cold_root: str, db: str, measurement: str) -> dict:
    """Which day partitions live on which tier (reference tiering metadata)."""
    hot_bk = backend_for(root)
    cold_bk = backend_for(cold_root)
    hot_meas = hot_bk.join(root, db, measurement)
    cold_meas = cold_bk.join(cold_root, db, measurement)
    hot = {hot_bk.relpath(p, hot_meas) for p in _day_dirs(hot_meas)}
    cold = {cold_bk.relpath(p, cold_meas) for p in _day_dirs(cold_meas)}
    return {
        "hot_only": sorted(hot - cold),
        "cold_only": sorted(cold - hot),
        "both": sorted(hot & cold),
    }


class TieringPolicyStore:
    """Per-database tiering policies (reference internal/tiering/policy.go:
    ``hot_only`` excludes a database from migration entirely;
    ``hot_max_age_days`` overrides the global default; NULL = inherit).
    SQLite-backed like the reference's metadata store; ``effective``
    resolves against the global default the way manager.go
    GetEffectivePolicy does."""

    def __init__(self, path: str = ":memory:"):
        import sqlite3
        import threading

        self._db = sqlite3.connect(path, check_same_thread=False)
        self._lock = threading.Lock()
        with self._lock:
            self._db.execute(
                "CREATE TABLE IF NOT EXISTS tiering_policies ("
                " database TEXT PRIMARY KEY,"
                " hot_only INTEGER NOT NULL DEFAULT 0,"
                " hot_max_age_days INTEGER,"
                " updated_at REAL NOT NULL)")
            self._db.commit()

    def set(self, database: str, hot_only: bool = False,
            hot_max_age_days: int | None = None) -> dict:
        import time as _t

        from arc_spark.catalog import validate_identifier

        validate_identifier(database, "database")
        if hot_max_age_days is not None and int(hot_max_age_days) < 1:
            raise ValueError("hot_max_age_days must be >= 1")
        with self._lock:
            self._db.execute(
                "INSERT INTO tiering_policies VALUES (?,?,?,?) "
                "ON CONFLICT(database) DO UPDATE SET hot_only=excluded."
                "hot_only, hot_max_age_days=excluded.hot_max_age_days, "
                "updated_at=excluded.updated_at",
                (database, 1 if hot_only else 0,
                 None if hot_max_age_days is None
                 else int(hot_max_age_days), _t.time()))
            self._db.commit()
        return self.get(database)

    def get(self, database: str) -> dict | None:
        with self._lock:
            row = self._db.execute(
                "SELECT database, hot_only, hot_max_age_days, updated_at "
                "FROM tiering_policies WHERE database=?",
                (database,)).fetchone()
        if row is None:
            return None
        return {"database": row[0], "hot_only": bool(row[1]),
                "hot_max_age_days": row[2], "updated_at": row[3]}

    def list(self) -> list[dict]:
        with self._lock:
            rows = self._db.execute(
                "SELECT database FROM tiering_policies "
                "ORDER BY database").fetchall()
        return [self.get(r[0]) for r in rows]

    def delete(self, database: str) -> bool:
        with self._lock:
            cur = self._db.execute(
                "DELETE FROM tiering_policies WHERE database=?",
                (database,))
            self._db.commit()
        return cur.rowcount > 0

    def effective(self, database: str, default_days: int) -> dict:
        """Resolved policy: custom overrides where set, global default
        otherwise (reference EffectivePolicy with a ``source`` marker)."""
        p = self.get(database)
        if p is None:
            return {"database": database, "hot_only": False,
                    "hot_max_age_days": int(default_days),
                    "source": "default"}
        return {"database": database, "hot_only": p["hot_only"],
                "hot_max_age_days": (int(default_days)
                                     if p["hot_max_age_days"] is None
                                     else p["hot_max_age_days"]),
                "source": "custom"}


def migrate_all(root: str, cold_root: str, policies: TieringPolicyStore,
                default_days: int, now=None) -> dict:
    """Policy-aware sweep over every database/measurement (the
    reference's tiering scheduler pass, migrator.go:95-130): hot_only
    databases are skipped, custom ages override the default. Returns
    {database: {measurement: [migrated day dirs]}} plus counts."""
    bk = backend_for(root)
    out: dict = {"databases": {}, "migrated_days": 0, "skipped_hot_only": 0}
    if not bk.isdir(root):
        return out
    for db in bk.list_dirs(root):
        eff = policies.effective(db, default_days)
        if eff["hot_only"]:
            out["skipped_hot_only"] += 1
            continue
        per_meas = {}
        for meas in bk.list_dirs(bk.join(root, db)):
            moved = migrate_to_cold(
                root, cold_root, db, meas,
                older_than_days=eff["hot_max_age_days"], now=now)
            if moved:
                per_meas[meas] = moved
                out["migrated_days"] += len(moved)
        if per_meas:
            out["databases"][db] = per_meas
    return out
