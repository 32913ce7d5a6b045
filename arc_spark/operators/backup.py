"""Backup and restore of measurement partition trees.

Reference: /root/reference/internal/backup/ (manager.go CreateBackup /
RestoreBackup, manifest.go Manifest) — a backup is a copied partition tree
plus a JSON manifest inventorying every file (count + size), restore is
the reverse copy that then re-registers measurements.

Spark-first translation: backup is a pure metadata/data-plane copy — no
Spark job, one recursive LIST per measurement and streamed per-file copies
via :mod:`arc_spark.storage` backends, so source and destination may be
any registered filesystem (local → object store, object store → local).
What stays deliberately out of scope from the reference: SQLite/auth and
Iceberg-catalog side-channels (auth lives in a single SQLite file the
deployment can copy; there is no Iceberg catalog here).

Manifest shape (``_arc_backup_<id>.json`` at the backup root):

    {"backup_id", "created_at_ms", "source_root", "backup_type": "full",
     "databases": {db: {measurement: {"files": {relpath: size}}}},
     "total_files", "total_size_bytes"}

Restore modes:
- whole backup / one db / one measurement;
- partial tree via ``prefix`` (e.g. ``year=2024/month=1/day=15``) — the
  reference's point-in-time partial restore on the hive layout;
- ``overwrite=False`` (default) never clobbers a file already in the live
  tree (crash-safe rerun: restore is idempotent).
"""

from __future__ import annotations

import time
import uuid

from arc_spark.storage import backend_for

MANIFEST_PREFIX = "_arc_backup_"


def _measurement_files(bk, meas_path: str) -> dict[str, int]:
    """relpath → size for every data/manifest file under a measurement.

    Snapshot versions (_arc_snapshots/) are deliberately NOT inventoried:
    they travel inside whole-tree copies (a full restore lands a
    consistent manifest), but a selective restore must never merge
    backup-time versions into a live tree — restored files are committed
    as a fresh snapshot version instead."""
    out = {}
    for f in bk.find_files(meas_path):
        name = bk.basename(f)
        if name.startswith(MANIFEST_PREFIX) or ".compact-tmp" in f:
            continue
        rel = bk.relpath(f, meas_path).replace("\\", "/")
        if rel.startswith("_arc_snapshots/"):
            continue
        out[rel] = bk.size(f)
    return out


def create_backup(
    root: str,
    backup_root: str,
    db: str | None = None,
    measurement: str | None = None,
    backup_id: str | None = None,
    now_ms: int | None = None,
) -> dict:
    """Copy measurement trees to ``backup_root`` and write the manifest.

    Scope narrows with ``db`` / ``measurement``; default = every database.
    Returns the manifest dict. Re-running with the same scope creates a
    NEW backup id (point-in-time snapshots, like the reference's
    timestamped backup IDs).
    """
    src = backend_for(root)
    dst = backend_for(backup_root)
    backup_id = backup_id or f"bk{uuid.uuid4().hex[:12]}"
    created = now_ms if now_ms is not None else int(time.time() * 1000)

    databases: dict[str, dict] = {}
    total_files = 0
    total_bytes = 0
    dbs = [db] if db else (src.list_dirs(root) if src.isdir(root) else [])
    for d in dbs:
        meas_list = ([measurement] if measurement
                     else src.list_dirs(src.join(root, d)))
        for m in meas_list:
            meas_path = src.join(root, d, m)
            if not src.isdir(meas_path):
                continue
            files = _measurement_files(src, meas_path)
            dest_meas = dst.join(backup_root, backup_id, d, m)
            dst.mkdirs(dest_meas)
            # one threaded tree copy per measurement (pyarrow C++ streams,
            # parallel) — NOT a per-file driver loop; the inventory LIST
            # above already paid the metadata pass. Staging/tmp artifacts
            # excluded from the manifest may ride along; verify/restore
            # only ever consult manifest-listed files.
            import pyarrow.fs as pafs

            pafs.copy_files(
                src.fs_path(meas_path),
                dst.fs_path(dest_meas),
                source_filesystem=src.fs,
                destination_filesystem=dst.fs,
            )
            databases.setdefault(d, {})[m] = {"files": files}
            total_files += len(files)
            total_bytes += sum(files.values())
    manifest = {
        "version": "1",
        "backup_id": backup_id,
        "created_at_ms": created,
        "backup_type": "full",
        "source_root": root,
        "databases": databases,
        "total_files": total_files,
        "total_size_bytes": total_bytes,
    }
    dst.mkdirs(backup_root)
    dst.write_json(dst.join(backup_root, f"{MANIFEST_PREFIX}{backup_id}.json"),
                   manifest)
    return manifest


def list_backups(backup_root: str) -> list[dict]:
    """Manifests at the backup root, oldest first."""
    bk = backend_for(backup_root)
    out = []
    for f in bk.list_files(backup_root, suffix=".json"):
        if bk.basename(f).startswith(MANIFEST_PREFIX):
            out.append(bk.read_json(f))
    return sorted(out, key=lambda m: m["created_at_ms"])


def verify_backup(backup_root: str, backup_id: str) -> dict:
    """Check every manifest-listed file exists with the recorded size."""
    bk = backend_for(backup_root)
    manifest = bk.read_json(
        bk.join(backup_root, f"{MANIFEST_PREFIX}{backup_id}.json"))
    missing, size_mismatch = [], []
    for d, meas in manifest["databases"].items():
        for m, info in meas.items():
            for rel, size in info["files"].items():
                p = bk.join(backup_root, backup_id, d, m, rel)
                if not bk.isfile(p):
                    missing.append(p)
                elif bk.size(p) != size:
                    size_mismatch.append(p)
    return {"ok": not missing and not size_mismatch,
            "missing": missing, "size_mismatch": size_mismatch}


def restore_backup(
    backup_root: str,
    backup_id: str,
    root: str,
    db: str | None = None,
    measurement: str | None = None,
    prefix: str | None = None,
    overwrite: bool = False,
) -> dict:
    """Copy backup files back into the live tree.

    ``prefix`` restricts to a partition-path prefix inside each
    measurement (``"year=2024/month=1/day=15"`` restores one day — the
    partial-restore contract on the hive layout). Existing live files are
    kept unless ``overwrite=True``. Catalog views over a restored
    measurement rebuild on their next read: a merge commits the restored
    files as a new snapshot, and a whole-measurement copy carries the
    backed-up snapshot chain (so files the source never committed stay
    invisible; a tree backed up before its first commit is adopted on its
    first read)."""
    src = backend_for(backup_root)
    dst = backend_for(root)
    manifest = src.read_json(
        src.join(backup_root, f"{MANIFEST_PREFIX}{backup_id}.json"))
    restored = 0
    skipped = 0
    touched: list[tuple[str, str]] = []
    for d, meas in manifest["databases"].items():
        if db and d != db:
            continue
        for m, info in meas.items():
            if measurement and m != measurement:
                continue
            src_meas = src.join(backup_root, backup_id, d, m)
            dst_meas = dst.join(root, d, m)
            if prefix is None and not dst.isdir(dst_meas):
                # whole-measurement restore into an empty slot: one
                # threaded tree copy, no per-file loop
                import pyarrow.fs as pafs

                dst.mkdirs(dst_meas)
                pafs.copy_files(
                    src.fs_path(src_meas), dst.fs_path(dst_meas),
                    source_filesystem=src.fs, destination_filesystem=dst.fs,
                )
                restored += len(info["files"])
                touched.append((d, m))
                continue
            # selective path (prefix subset / merge into live files):
            # per-file checks are the point — non-clobber semantics
            any_restored = False
            restored_data: list[str] = []
            for rel in info["files"]:
                is_meas_manifest = rel.startswith("_arc_manifest")
                if rel.replace("\\", "/").startswith("_arc_snapshots/"):
                    # never merge backup-time snapshot versions into a
                    # LIVE tree: a higher backed-up version number would
                    # silently rewind the current snapshot. (Inventories
                    # exclude these; this guards older manifests.)
                    # Restored data files are committed below instead.
                    continue
                if prefix and not rel.startswith(prefix) and not is_meas_manifest:
                    continue
                dest = dst.join(dst_meas, rel)
                if not overwrite and dst.isfile(dest):
                    skipped += 1
                    continue
                dst.mkdirs(dst.dirname(dest))
                # streamed, not buffered: a restore must not hold a whole
                # (possibly multi-GB compacted) file in memory
                src.stream_copy_to(src.join(src_meas, rel), dst, dest)
                restored += 1
                any_restored = True
                if rel.endswith(".parquet"):
                    restored_data.append(rel)
            if any_restored:
                if restored_data:
                    from arc_spark import snapshots

                    # publish the restored files in one commit so
                    # snapshot readers see the partial restore
                    snapshots.commit(dst_meas, add=restored_data, bk=dst)
                touched.append((d, m))
    return {"backup_id": backup_id, "restored_files": restored,
            "skipped_files": skipped,
            "measurements": [f"{d}.{m}" for d, m in touched]}
