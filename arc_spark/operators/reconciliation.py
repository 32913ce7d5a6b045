"""Storage reconciliation (reference internal/reconciliation/): periodic
detection and repair of drift between the engine's expected storage layout
and what is physically on disk / in the object store.

The reference diffs a Raft-replicated file manifest against a storage
walk. This engine runs the reference's *standalone* backend mode
(reconciler.go BackendStandalone: "no cluster... manifest writes are
no-ops because there is no manifest") — files inside the canonical hive
layout ARE the source of truth, so the drift classes are everything that
is NOT canonical state:

- ``job_state``    — leftover ``.compact-tmp-*`` dirs and
  ``*.compact-manifest.json`` job manifests from a crashed compaction.
  Repair delegates to :func:`arc_spark.operators.compaction.
  recover_incomplete`, which rolls each job forward or back (never just
  deletes a half-published output).
- ``staging``      — orphaned manifest-publish temporaries
  (``._arc_manifest.json.tmp-*``) and Spark staging dirs
  (``_temporary``) older than the grace window.
- ``debris``       — ``_SUCCESS`` markers and ``.crc`` sidecars; inert,
  swept when aged past grace.
- ``stray_data``   — ``.parquet`` files OUTSIDE any valid
  ``year=/month=/day=/hour=`` (or daily-tier ``year=/month=/day=``)
  partition directory. Reported always; deleted only when
  ``delete_stray_data=True`` (reference: orphan-storage sweep is the
  risky half and runs only after the safe sweep succeeds).
- ``orphan_data``  — on a SNAPSHOT-MANAGED measurement
  (:mod:`arc_spark.snapshots`): in-layout parquet NOT in the current
  snapshot: the leftovers of a crash between "files written" and
  "commit", or between a commit that removed them and their
  ``snapshots.retire`` — no reader can see them, so deleting aged ones
  is safe; still gated on ``delete_stray_data``. Replaced files that
  ``retire`` holds for a running read (``snapshots.held``) are skipped.
- ``suspect_data`` — zero-byte or footer-unreadable parquet inside valid
  partitions (and in the snapshot, when managed). REPORT-ONLY: the
  reconciler never auto-deletes reader-visible data files (blast-radius
  principle, reconciler.go's per-run cap rationale taken one step
  further).
- ``missing_data`` — committed snapshot entries whose file is GONE
  (out-of-band loss: dead disk, manual rm). Reads fail loudly until
  repaired; a non-dry-run sweep heals the snapshot by committing the
  removals (the reference's manifest-vs-walk diff repair, diff.go) —
  after which the loss is visible as missing rows, not errors.

Safety rails from the reference, kept:

- grace window: candidates younger than ``grace_window_s`` are skipped
  and counted (diff.go skippedGraceCount) — a file mid-write looks
  exactly like an orphan.
- per-run deletion cap ``max_deletions`` (reconciler.go: "per-run blast
  radius is capped... so a buggy run can't nuke the cluster").
- ``dry_run`` classifies and reports without touching storage.
- runs are recorded with id/summary; ``recent_runs`` keeps a bounded
  history (reconciler.go recordRun / RecentRuns).

Everything flows through the :mod:`arc_spark.storage` backend, so the
sweep works identically over a registered object-store root.
"""

from __future__ import annotations

import threading
import time
import uuid

from arc_spark.storage import backend_for

_PART_SEGMENTS = ("year=", "month=", "day=", "hour=")
_HISTORY_LIMIT = 20


def _in_valid_partition(rel_parts: list[str]) -> bool:
    """True when the file's directory chain is a valid hourly or daily
    partition under db/measurement."""
    # rel_parts: [db, measurement, year=..., month=..., day=..., hour=...]
    dirs = rel_parts[:-1]
    if len(dirs) < 2:
        return False
    segs = dirs[2:]
    if len(segs) not in (3, 4):  # daily tier has no hour segment
        return False
    return all(s.startswith(pfx) and s[len(pfx):].isdigit()
               for s, pfx in zip(segs, _PART_SEGMENTS))


class Run:
    def __init__(self, dry_run: bool):
        self.id = uuid.uuid4().hex[:12]
        self.started_at = time.time()
        self.finished_at: float | None = None
        self.dry_run = dry_run
        self.status = "running"
        self.error: str | None = None
        # classification → list of paths (bounded samples) + counts
        self.found: dict[str, int] = {}
        self.samples: dict[str, list[str]] = {}
        self.deleted = 0
        self.recovered_jobs = 0
        self.skipped_grace = 0
        self.capped = False

    def note(self, kind: str, path: str) -> None:
        self.found[kind] = self.found.get(kind, 0) + 1
        self.samples.setdefault(kind, [])
        if len(self.samples[kind]) < 50:
            self.samples[kind].append(path)

    def summary(self) -> dict:
        return {
            "id": self.id, "status": self.status, "dry_run": self.dry_run,
            "started_at": self.started_at, "finished_at": self.finished_at,
            "found": dict(self.found), "samples": dict(self.samples),
            "deleted": self.deleted, "recovered_jobs": self.recovered_jobs,
            "skipped_grace": self.skipped_grace, "capped": self.capped,
            "error": self.error,
        }


class Reconciler:
    """One reconciler per storage root (reference: one per node/bucket)."""

    def __init__(self, root: str, grace_window_s: float = 86400.0,
                 max_deletions: int = 10_000,
                 delete_stray_data: bool = False,
                 audit=None):
        self.root = root
        self.grace_window_s = grace_window_s
        self.max_deletions = max_deletions
        self.delete_stray_data = delete_stray_data
        # optional arc_spark.audit.AuditLogger — runs are audit-trailed
        # like the reference's emitAudit (reconciler.go:747)
        self.audit = audit
        self._lock = threading.Lock()
        self._running = False
        self._history: list[Run] = []

    # -- run bookkeeping ------------------------------------------------
    def recent_runs(self) -> list[dict]:
        with self._lock:
            return [r.summary() for r in self._history]

    def is_running(self) -> bool:
        with self._lock:
            return self._running

    # -- the sweep ------------------------------------------------------
    def reconcile(self, dry_run: bool = True) -> dict:
        with self._lock:
            if self._running:
                raise RuntimeError("reconciliation: a run is already in progress")
            self._running = True
            run = Run(dry_run)
            self._history.insert(0, run)
            del self._history[_HISTORY_LIMIT:]
        try:
            self._sweep(run)
            run.status = "completed"
        except Exception as e:  # record and rethrow: operators see both
            run.status = "aborted"
            run.error = f"{type(e).__name__}: {e}"
            raise
        finally:
            run.finished_at = time.time()
            with self._lock:
                self._running = False
            if self.audit is not None:
                self.audit.log_event({
                    "event_type": f"reconcile.{run.status}",
                    "actor": "reconciler", "method": "JOB",
                    "path": self.root,
                    "duration_ms": int(
                        (run.finished_at - run.started_at) * 1000),
                    "detail": {"run_id": run.id, "dry_run": run.dry_run,
                               "deleted": run.deleted,
                               "found": run.found},
                })
        return run.summary()

    def _aged_out(self, bk, path: str, now: float, run: Run) -> bool:
        """Grace-window check (diff.go computeDiff): unknown mtime is
        treated as YOUNG — protected, not deletable."""
        try:
            age = now - bk.mtime(path)
        except OSError:
            age = -1.0
        if age >= self.grace_window_s:
            return True
        run.skipped_grace += 1
        return False

    def _delete(self, bk, path: str, run: Run, is_dir: bool = False) -> None:
        if run.dry_run:
            return
        if run.deleted >= self.max_deletions:
            run.capped = True
            return
        if is_dir:
            bk.remove_tree(path, ignore_errors=True)
        else:
            bk.remove_file_if_exists(path)
        run.deleted += 1

    def _sweep(self, run: Run) -> None:
        from arc_spark.operators.compaction import recover_incomplete

        bk = backend_for(self.root)
        now = time.time()
        if not bk.isdir(self.root):
            return
        from arc_spark import snapshots

        for db in bk.list_dirs(self.root):
            for meas in bk.list_dirs(bk.join(self.root, db)):
                meas_path = bk.join(self.root, db, meas)

                # 1) crashed compaction jobs: the SAFE repair first
                #    (reconciler.go: step-5 only runs if step 4 succeeded)
                job_manifests = bk.find_files(
                    meas_path, suffix=".compact-manifest.json")
                tmp_dirs = bk.find_dirs(meas_path, ".compact-tmp-")
                if job_manifests or tmp_dirs:
                    for p in job_manifests + tmp_dirs:
                        run.note("job_state", p)
                    if not run.dry_run:
                        run.recovered_jobs += recover_incomplete(meas_path)

                # current committed file set (a dry run adopts nothing)
                snap_set = set(snapshots.current(
                    meas_path, bk=bk, publish=not run.dry_run)[1])
                held = snapshots.held(bk, meas_path)
                seen_rels: set[str] = set()

                # 2) walk every file once, classify the rest
                for f in bk.find_files(meas_path):
                    rel = bk.relpath(f, self.root)
                    parts = rel.replace("\\", "/").split("/")
                    name = parts[-1]
                    if ".compact-tmp-" in rel:
                        continue  # entire job dir is recover_incomplete's
                    if ".compact-manifest.json" in name:
                        continue  # handled above
                    if name == "_arc_manifest.json":
                        continue  # canonical measurement metadata
                    if snapshots.SNAP_DIR in parts:
                        # snapshot versions are canonical metadata (commit
                        # prunes history); their tmp files are staging
                        if ".json.tmp-" in name:
                            run.note("staging", f)
                            if self._aged_out(bk, f, now, run):
                                self._delete(bk, f, run)
                        continue
                    if "._arc_manifest.json.tmp-" in name:
                        run.note("staging", f)
                        if self._aged_out(bk, f, now, run):
                            self._delete(bk, f, run)
                        continue
                    if name == "_SUCCESS" or name.endswith(".crc"):
                        run.note("debris", f)
                        if self._aged_out(bk, f, now, run):
                            self._delete(bk, f, run)
                        continue
                    if name.endswith(".parquet"):
                        seen_rels.add("/".join(parts[2:]))
                        # rel is db/measurement/<segments...>/<file>
                        if not _in_valid_partition(parts):
                            run.note("stray_data", f)
                            if (self.delete_stray_data
                                    and self._aged_out(bk, f, now, run)):
                                self._delete(bk, f, run)
                            continue
                        if "/".join(parts[2:]) in held:
                            continue  # a running read's; retire deletes it
                        if "/".join(parts[2:]) not in snap_set:
                            # in-layout, NOT committed: the precise
                            # orphan class — invisible to readers, safe to
                            # sweep once aged (still opt-in)
                            run.note("orphan_data", f)
                            if (self.delete_stray_data
                                    and self._aged_out(bk, f, now, run)):
                                self._delete(bk, f, run)
                            continue
                        try:
                            bad = bk.size(f) == 0 or bk.parquet_metadata(f) is None
                        except Exception:
                            bad = True
                        if bad:
                            # report-only: visible data is never auto-deleted
                            run.note("suspect_data", f)
                        continue
                    # unknown file type outside the conventions
                    run.note("stray_data", f)
                    if (self.delete_stray_data
                            and self._aged_out(bk, f, now, run)):
                        self._delete(bk, f, run)
                # 3) Spark staging dirs from a crashed non-atomic write
                for d in bk.find_dirs(meas_path, "_temporary"):
                    run.note("staging", d)
                    if self._aged_out(bk, d, now, run):
                        self._delete(bk, d, run, is_dir=True)
                # 4) snapshot entries whose files are GONE (out-of-band
                #    loss): heal the manifest so reads recover — the
                #    manifest-vs-walk diff repair, computed from the walk
                #    above (no extra stat calls)
                missing = sorted(snap_set - seen_rels)
                for rel_m in missing:
                    run.note("missing_data", bk.join(meas_path, rel_m))
                if missing and not run.dry_run:
                    snapshots.commit(meas_path, remove=missing, bk=bk)
        # 4) staged ingest payload files: the bulk-LP and distributed-drain
        #    paths stage payloads under root-level dot dirs and remove them
        #    in a finally — a driver crash mid-job leaks them (hundreds of
        #    MB), and list_dirs skips dot-prefixed dirs so the walk above
        #    never sees them. Sweep them under the same grace window.
        for dirname in (".lp-staging", ".raw-staging"):
            sdir = bk.join(self.root, dirname)
            if not bk.isdir(sdir):
                continue
            for f in bk.find_files(sdir):
                run.note("staging", f)
                if self._aged_out(bk, f, now, run):
                    self._delete(bk, f, run)
