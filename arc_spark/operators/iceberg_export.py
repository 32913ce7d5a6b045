"""Iceberg v2 export: publish a measurement's COMMITTED file set as an
Apache Iceberg table (reference `internal/iceberg/exporter.go:1-760` —
reconcile the engine's Parquet set into an Iceberg commit with
ReplaceDataFiles semantics and publish Hadoop-catalog discovery files,
`exporter.go:560-600` writeVersionHint; behavior kept, code ours).

This is the sibling of :mod:`arc_spark.operators.export` (Delta log) for
readers that speak Iceberg specifically — Trino/Spark with an Iceberg
catalog, DuckDB ``iceberg_scan``, PyIceberg. Zero-copy: metadata is
written under ``<measurement>/metadata/`` next to the existing data
files; orphans stay unreferenced and invisible.

Spec surface implemented (https://iceberg.apache.org/spec/, v2):

- table metadata JSON (``v<N>.metadata.json`` + ``version-hint.text``,
  the Hadoop-catalog naming the reference publishes for directory-based
  readers — exporter.go empirically found Spark/DuckDB resolve the hint
  strictly to ``v<N>.metadata.json``),
- manifest list (``snap-<id>-1-<uuid>.avro``) and one manifest
  (``<uuid>-m0.avro``) per snapshot, written with
  :mod:`arc_spark.operators.avro_min`; every Avro field carries its
  spec field-id, which is what real readers project by,
- each export snapshot is a full rewrite (``operation=overwrite``) of
  the current committed set — the exporter.go ReplaceDataFiles model —
  so sequence-number bookkeeping is one monotonic counter and
  incremental re-export never has to carry forward entry lineage.

Hive partition columns (year/month/day/hour) are appended to the schema
as identity-partitioned ints whose values come from manifest partition
metadata, not the data pages — exactly how Iceberg represents migrated
hive layouts (``add_files``), so readers prune partitions without the
files containing those columns.

Scale: metadata-plane, O(committed files) driver work. The one per-file
cost Delta export doesn't pay is a parquet FOOTER read for
``record_count`` (required by the spec); footers are a few KB and the
file count is bounded by compaction (~1 file/partition-hour).
"""

from __future__ import annotations

import json
import os
import time
import uuid

from arc_spark import snapshots
from arc_spark.operators.avro_min import write_avro
from arc_spark.operators.export import EXPORT_COMMIT_RETRIES
from arc_spark.storage import backend_for

METADATA_DIR = "metadata"

# --------------------------------------------------------------------------
# schema: arrow -> iceberg
# --------------------------------------------------------------------------


def _iceberg_type(t) -> str:
    import pyarrow as pa

    if pa.types.is_timestamp(t):
        return "timestamptz" if t.tz else "timestamp"
    if pa.types.is_int64(t) or pa.types.is_uint32(t) or pa.types.is_uint64(t):
        return "long"
    if (pa.types.is_int32(t) or pa.types.is_int16(t) or pa.types.is_int8(t)
            or pa.types.is_uint16(t) or pa.types.is_uint8(t)):
        return "int"
    if pa.types.is_float64(t):
        return "double"
    if pa.types.is_float32(t):
        return "float"
    if pa.types.is_boolean(t):
        return "boolean"
    if pa.types.is_decimal(t):
        return f"decimal({t.precision}, {t.scale})"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    raise ValueError(f"no Iceberg mapping for arrow type {t}")


def _table_schema(bk, files: list[str],
                  partition_cols: list[str]) -> tuple[dict, dict[str, int]]:
    """Iceberg schema struct (field ids 1..K, partition columns appended
    as ints) + {column: field-id}. Samples up to 50 footers like the
    Delta exporter's schemaString. A measurement with zero committed
    files (fresh DB, all-expired retention) gets a partition-columns-only
    schema — mirrors the Delta exporter's empty-sample branch so the
    scheduled sweep / export CLI never aborts on one empty measurement
    (r6 advisory)."""
    import pyarrow as pa

    sample = files[:50]
    schemas = [bk.parquet_schema(f) for f in sample]
    unified = (pa.schema([]) if not schemas
               else schemas[0] if len(schemas) == 1
               else pa.unify_schemas(schemas, promote_options="permissive"))
    fields = []
    ids: dict[str, int] = {}
    next_id = 1
    for f in unified:
        ids[f.name] = next_id
        fields.append({"id": next_id, "name": f.name, "required": False,
                       "type": _iceberg_type(f.type)})
        next_id += 1
    for c in partition_cols:
        ids[c] = next_id
        fields.append({"id": next_id, "name": c, "required": False,
                       "type": "int"})
        next_id += 1
    return {"type": "struct", "schema-id": 0, "fields": fields}, ids


def _partition_values(rel: str) -> dict[str, int | None]:
    out: dict[str, int | None] = {}
    for seg in rel.replace("\\", "/").split("/")[:-1]:
        if "=" in seg:
            k, _, v = seg.partition("=")
            out[k] = int(v) if v.lstrip("-").isdigit() else None
    return out


# --------------------------------------------------------------------------
# avro schemas (field-ids from the Iceberg spec's manifest tables)
# --------------------------------------------------------------------------


def _opt(t):
    return ["null", t]


def _field(name, ftype, fid, **extra):
    d = {"name": name, "type": ftype, "field-id": fid}
    d.update(extra)
    return d


def _partition_record_schema(partition_cols: list[str]) -> dict:
    """The r102 partition struct: one optional int per hive column,
    field-ids 1000+ (matching the partition spec)."""
    return {
        "type": "record", "name": "r102",
        "fields": [
            _field(c, _opt("int"), 1000 + i, default=None)
            for i, c in enumerate(partition_cols)
        ],
    }


def _data_file_schema(partition_cols: list[str]) -> dict:
    return {
        "type": "record", "name": "r2",
        "fields": [
            _field("content", "int", 134),
            _field("file_path", "string", 100),
            _field("file_format", "string", 101),
            _field("partition", _partition_record_schema(partition_cols),
                   102),
            _field("record_count", "long", 103),
            _field("file_size_in_bytes", "long", 104),
        ],
    }


def _manifest_entry_schema(partition_cols: list[str]) -> dict:
    return {
        "type": "record", "name": "manifest_entry",
        "fields": [
            _field("status", "int", 0),
            _field("snapshot_id", _opt("long"), 1, default=None),
            _field("data_sequence_number", _opt("long"), 3, default=None),
            _field("file_sequence_number", _opt("long"), 4, default=None),
            _field("data_file", _data_file_schema(partition_cols), 2),
        ],
    }


_FIELD_SUMMARY = {
    "type": "record", "name": "r508",
    "fields": [
        _field("contains_null", "boolean", 509),
        _field("contains_nan", _opt("boolean"), 518, default=None),
        _field("lower_bound", _opt("bytes"), 510, default=None),
        _field("upper_bound", _opt("bytes"), 511, default=None),
    ],
}

_MANIFEST_LIST_SCHEMA = {
    "type": "record", "name": "manifest_file",
    "fields": [
        _field("manifest_path", "string", 500),
        _field("manifest_length", "long", 501),
        _field("partition_spec_id", "int", 502),
        _field("content", "int", 517),
        _field("sequence_number", "long", 515),
        _field("min_sequence_number", "long", 516),
        _field("added_snapshot_id", "long", 503),
        _field("added_files_count", "int", 504),
        _field("existing_files_count", "int", 505),
        _field("deleted_files_count", "int", 506),
        _field("added_rows_count", "long", 512),
        _field("existing_rows_count", "long", 513),
        _field("deleted_rows_count", "long", 514),
        _field("partitions",
               _opt({"type": "array", "items": _FIELD_SUMMARY,
                     "element-id": 508}), 507, default=None),
        _field("key_metadata", _opt("bytes"), 519, default=None),
    ],
}


# --------------------------------------------------------------------------
# state
# --------------------------------------------------------------------------


def _max_metadata_version(bk, md_dir: str) -> int:
    """Max ``v<N>.metadata.json`` version from ONE directory listing —
    no metadata-document reads (the hint-repair hot path)."""
    last = -1
    if bk.isdir(md_dir):
        for f in bk.list_files(md_dir, suffix=".metadata.json"):
            base = bk.basename(f)
            body = base[1:-len(".metadata.json")]
            if base.startswith("v") and body.isdigit():
                last = max(last, int(body))
    return last


def _current_metadata(bk, table_path: str) -> tuple[int, dict | None]:
    """(last published version, its metadata dict). Scans for the max
    ``v<N>.metadata.json`` instead of trusting version-hint.text — a
    crash between the metadata CAS and the hint write must not wedge
    the next export on an EEXIST retry loop (the hint is a READER
    convenience; the directory is the source of truth, same stance as
    exporter.go's best-effort writeVersionHint)."""
    md_dir = bk.join(table_path, METADATA_DIR)
    if not bk.isdir(md_dir):
        return -1, None
    last = -1
    for f in bk.list_files(md_dir, suffix=".metadata.json"):
        base = bk.basename(f)
        body = base[1:-len(".metadata.json")]
        if base.startswith("v") and body.isdigit():
            last = max(last, int(body))
    if last < 0:
        return -1, None
    try:
        return last, bk.read_json(bk.join(md_dir, f"v{last}.metadata.json"))
    except Exception:
        return last, None


def _committed_rels(meas_path: str, bk) -> list[str]:
    return snapshots.current(meas_path, bk=bk)[1]


def export_iceberg(meas_path: str, bk=None, table_name: str | None = None,
                   now_ms: int | None = None, retain: int = 10) -> dict:
    """Write/advance Iceberg v2 metadata over the measurement's own tree.
    Returns {"version", "snapshot_id", "files", "changed"}. Idempotent:
    unchanged committed set -> no new snapshot.

    ``retain`` (0 = keep all) bounds metadata growth for a long-lived
    periodic export, the reference's expireSnapshots +
    pruneOldVersionFiles pair (exporter.go:483-556): each commit keeps
    only the newest ``retain`` snapshots in the metadata and
    best-effort-deletes dropped snapshots' manifest-list/manifest files
    and v<N>.metadata.json copies beyond the retain window (never the
    current version). Safe here because THIS exporter writes one fresh
    full manifest per snapshot — manifests are never shared across
    snapshots, so a dropped snapshot's files are provably orphaned.

    Concurrent exporters are version-CAS-safe: a loser cleans up its
    side files, rereads the metadata, and retries (usually converging to
    a no-op because the winner exported the same committed set)."""
    bk = bk or backend_for(meas_path)
    now_ms = int(time.time() * 1000) if now_ms is None else now_ms
    table_name = table_name or bk.basename(meas_path)
    for _attempt in range(EXPORT_COMMIT_RETRIES):
        out = _export_iceberg_attempt(bk, meas_path, table_name, now_ms,
                                      retain)
        if out is not None:
            return out
    raise RuntimeError(
        f"iceberg export at {meas_path}: lost the version CAS "
        f"{EXPORT_COMMIT_RETRIES} times to concurrent exporters")


def _export_iceberg_attempt(bk, meas_path: str, table_name: str,
                            now_ms: int, retain: int) -> dict | None:
    rels = _committed_rels(meas_path, bk)
    last_v, meta = _current_metadata(bk, table_path=meas_path)

    if meta is not None:
        prev = meta.get("properties", {}).get("arc.exported-file-set", "")
        if prev == _fingerprint(rels):
            return {"version": last_v,
                    "snapshot_id": meta.get("current-snapshot-id"),
                    "files": len(rels), "changed": False}

    md_dir = bk.join(meas_path, METADATA_DIR)
    bk.mkdirs(md_dir)
    partition_cols = sorted(_partition_values(rels[0])) if rels else []
    abs_files = [bk.join(meas_path, r) for r in rels]
    schema, ids = _table_schema(bk, abs_files, partition_cols)

    snapshot_id = uuid.uuid4().int & ((1 << 62) - 1)
    seq = (meta.get("last-sequence-number", 0) + 1) if meta else 1
    commit_uuid = uuid.uuid4().hex

    # -- one manifest: every committed file as an ADDED entry ------------
    # record_count via a row-count sidecar: parquet files are immutable,
    # so each file's footer is read ONCE ever — re-exports pay O(changed
    # files), not O(all files) (at 100 TB / ~1e5 files a full footer
    # sweep per export would be minutes of driver time)
    rc_path = bk.join(md_dir, ".rowcounts.json")
    try:
        rowcounts = {k: int(v)
                     for k, v in bk.read_json(rc_path).items()}
    except Exception:
        rowcounts = {}
    entries = []
    total_rows = 0
    fresh = 0
    for rel, full in zip(rels, abs_files):
        n_rows = rowcounts.get(rel)
        if n_rows is None:
            n_rows = bk.parquet_metadata(full).num_rows
            rowcounts[rel] = n_rows
            fresh += 1
        total_rows += n_rows
        pv = _partition_values(rel)
        entries.append({
            "status": 1,  # ADDED
            "snapshot_id": snapshot_id,
            "data_sequence_number": seq,
            "file_sequence_number": seq,
            "data_file": {
                "content": 0,
                "file_path": bk.fs_path(full),
                "file_format": "PARQUET",
                "partition": {c: pv.get(c) for c in partition_cols},
                "record_count": n_rows,
                "file_size_in_bytes": bk.size(full),
            },
        })
    if fresh or len(rowcounts) != len(rels):
        # prune dropped files + persist — best effort (a lost sidecar
        # only costs one full footer sweep on the next export)
        try:
            keep = set(rels)
            bk.write_json(rc_path, {k: v for k, v in rowcounts.items()
                                    if k in keep})
        except Exception:
            pass
    entry_schema = _manifest_entry_schema(partition_cols)
    manifest_name = f"{commit_uuid}-m0.avro"
    manifest_path = bk.join(md_dir, manifest_name)
    manifest_bytes = write_avro(entry_schema, entries, metadata={
        "schema": json.dumps(schema, separators=(",", ":")),
        "schema-id": "0",
        "partition-spec": json.dumps(
            _spec_fields(partition_cols, ids), separators=(",", ":")),
        "partition-spec-id": "0",
        "format-version": "2",
        "content": "data",
    })
    bk.write_bytes(manifest_path, manifest_bytes)

    # -- manifest list ----------------------------------------------------
    mlist_name = f"snap-{snapshot_id}-1-{commit_uuid}.avro"
    mlist_path = bk.join(md_dir, mlist_name)
    bk.write_bytes(mlist_path, write_avro(
        _MANIFEST_LIST_SCHEMA, [{
            "manifest_path": bk.fs_path(manifest_path),
            "manifest_length": len(manifest_bytes),
            "partition_spec_id": 0,
            "content": 0,
            "sequence_number": seq,
            "min_sequence_number": seq,
            "added_snapshot_id": snapshot_id,
            "added_files_count": len(entries),
            "existing_files_count": 0,
            "deleted_files_count": 0,
            "added_rows_count": total_rows,
            "existing_rows_count": 0,
            "deleted_rows_count": 0,
            "partitions": _partition_summaries(entries, partition_cols),
            "key_metadata": None,
        }], metadata={"format-version": "2"}))

    # -- table metadata JSON + Hadoop discovery files ----------------------
    snapshot = {
        "snapshot-id": snapshot_id,
        "sequence-number": seq,
        "timestamp-ms": now_ms,
        "manifest-list": bk.fs_path(mlist_path),
        "summary": {
            "operation": "overwrite",
            "added-data-files": str(len(entries)),
            "added-records": str(total_rows),
            "total-data-files": str(len(entries)),
            "total-records": str(total_rows),
        },
        "schema-id": 0,
    }
    prev_snaps = (meta or {}).get("snapshots", [])
    prev_log = (meta or {}).get("snapshot-log", [])
    prev_mlog = (meta or {}).get("metadata-log", [])
    dropped_snaps: list[dict] = []
    if retain > 0 and len(prev_snaps) + 1 > retain:
        cut = len(prev_snaps) + 1 - retain
        dropped_snaps, prev_snaps = prev_snaps[:cut], prev_snaps[cut:]
        keep_ids = {s["snapshot-id"] for s in prev_snaps}
        prev_log = [e for e in prev_log
                    if e.get("snapshot-id") in keep_ids]
        prev_mlog = prev_mlog[-(retain - 1):] if retain > 1 else []
    if meta is not None:
        prev_mlog = prev_mlog + [{
            "timestamp-ms": meta.get("last-updated-ms", 0),
            "metadata-file": bk.fs_path(
                bk.join(md_dir, f"v{last_v}.metadata.json")),
        }]
    new_meta = {
        "format-version": 2,
        "table-uuid": (meta or {}).get("table-uuid", str(uuid.uuid4())),
        "location": bk.fs_path(meas_path),
        "last-sequence-number": seq,
        "last-updated-ms": now_ms,
        "last-column-id": max(ids.values()) if ids else 0,
        "current-schema-id": 0,
        "schemas": [schema],
        "default-spec-id": 0,
        "partition-specs": [{"spec-id": 0,
                             "fields": _spec_fields(partition_cols, ids)}],
        "last-partition-id": 1000 + len(partition_cols) - 1
        if partition_cols else 999,
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "properties": {
            "write.format.default": "parquet",
            "arc.table-name": table_name,
            "arc.exported-file-set": _fingerprint(rels),
        },
        "current-snapshot-id": snapshot_id,
        "snapshots": prev_snaps + [snapshot],
        "snapshot-log": prev_log + [{"timestamp-ms": now_ms,
                                     "snapshot-id": snapshot_id}],
        "metadata-log": prev_mlog,
    }
    version = last_v + 1
    body = json.dumps(new_meta, separators=(",", ":")).encode("utf-8")
    tmp = bk.join(md_dir, f".meta-{commit_uuid[:8]}.tmp")
    bk.write_bytes(tmp, body)
    final = bk.join(md_dir, f"v{version}.metadata.json")
    if not bk.move_file_excl(tmp, final):
        # concurrent exporter took this version — clean our side files,
        # signal the caller to reread the metadata and retry
        bk.remove_file_if_exists(tmp)
        bk.remove_file_if_exists(manifest_path)
        bk.remove_file_if_exists(mlist_path)
        return None
    _publish_version_hint(bk, md_dir, version)
    _expire_cleanup(bk, md_dir, dropped_snaps, version, retain)
    _sweep_orphan_avros(bk, md_dir, new_meta)
    return {"version": version, "snapshot_id": snapshot_id,
            "files": len(rels), "changed": True}


VERSION_HINT_REPUBLISH_TRIES = 3


def _publish_version_hint(bk, md_dir: str, version: int) -> None:
    """Advance version-hint.text via temp-file + atomic rename, with a
    directory-derived repair pass. Check-then-rename is NOT a lock: with
    concurrent exporters the vN CAS winner and the vN+1 winner can both
    pass the ``>= version`` pre-read and the OLDER writer can still land
    last, regressing the hint — and a post-rename re-read of the hint
    alone cannot detect that (the clobbered newer value is gone, and the
    clobberer only sees its own number). What IS always re-derivable is
    the directory: a writer's ``v<N>.metadata.json`` lands (CAS) before
    it ever touches the hint, so after our rename we rescan for the max
    on-disk version and republish if the live hint is behind it. Any bad
    interleaving therefore self-repairs: if writer B's hint=N+1 preceded
    our clobbering rename, B's vN+1 metadata preceded it too and our
    rescan finds it; if B publishes after our rename, B's value simply
    lands last. The loop is bounded — monotonicity remains BEST-EFFORT
    under a crash mid-repair (the next export's publish repairs it), but
    the steady-state guarantee is: hint never stays regressed once the
    last concurrent exporter finishes. Readers never observe a partial
    hint (the rename guarantee — the r6 advisory's actual requirement)."""
    hint = bk.join(md_dir, "version-hint.text")

    def read_hint() -> int:
        try:
            return int(bk.read_bytes(hint).decode("ascii").strip())
        except Exception:
            return -1  # absent / unreadable hint: publish ours

    best = version
    for _ in range(VERSION_HINT_REPUBLISH_TRIES):
        if read_hint() < best:
            tmp = bk.join(md_dir, f".hint-{best}-{os.getpid()}.tmp")
            bk.write_bytes(tmp, str(best).encode("ascii"))
            bk.replace_file(tmp, hint)
        # repair pass: the directory is the source of truth — if a newer
        # writer's metadata exists but the live hint is older (we may
        # have just clobbered its hint), loop and republish the max.
        # Listing only — reading/parsing the newest metadata JSON here
        # would cost 1-3 extra GETs of a large document per export on
        # object stores for an integer the listing already yields
        best = max(best, _max_metadata_version(bk, md_dir))
        if read_hint() >= best:
            return


ORPHAN_AVRO_MIN_AGE_S = 3600.0


def _sweep_orphan_avros(bk, md_dir: str, meta: dict) -> None:
    """Remove metadata-dir Avro files referenced by NO retained snapshot
    and older than ``ORPHAN_AVRO_MIN_AGE_S`` — the residue of an export
    that crashed between writing its manifests and winning the metadata
    CAS (the snapshot layer's crash-orphan sweep, applied to the
    exporter's own metadata plane). The age floor makes a CONCURRENT
    exporter safe: its freshly written Avros are unreferenced until its
    CAS lands, but they are seconds old, never an hour. Best-effort."""
    import time as _time

    referenced: set[str] = set()
    for snap in meta.get("snapshots", []):
        base = bk.basename(snap.get("manifest-list", ""))
        if base:
            referenced.add(base)
            if base.startswith("snap-") and base.endswith(".avro"):
                commit_uuid = base[:-5].rsplit("-", 1)[-1]
                referenced.add(f"{commit_uuid}-m0.avro")
    now = _time.time()
    try:
        for f in bk.list_files(md_dir, suffix=".avro"):
            name = bk.basename(f)
            if name in referenced:
                continue
            try:
                if now - bk.mtime(f) >= ORPHAN_AVRO_MIN_AGE_S:
                    bk.remove_file_if_exists(f)
            except Exception:
                pass
    except Exception:
        pass


def _expire_cleanup(bk, md_dir: str, dropped_snaps: list[dict],
                    version: int, retain: int) -> None:
    """Best-effort physical cleanup after a committed expire: dropped
    snapshots' manifest-list + manifest Avros, and v<N>.metadata.json
    copies beyond the retain window (never the current version) —
    exporter.go:513-556 parity. Failures are swallowed: the metadata
    commit is already durable and the next export retries the sweep."""
    for snap in dropped_snaps:
        try:
            mlist = snap.get("manifest-list", "")
            base = bk.basename(mlist)
            # our naming: snap-<id>-1-<uuid>.avro pairs with <uuid>-m0.avro
            if base.startswith("snap-") and base.endswith(".avro"):
                commit_uuid = base[:-5].rsplit("-", 1)[-1]
                bk.remove_file_if_exists(
                    bk.join(md_dir, f"{commit_uuid}-m0.avro"))
            if base:
                # rejoin under md_dir (the recorded path is an fs path;
                # both files live in metadata/ by construction)
                bk.remove_file_if_exists(bk.join(md_dir, base))
        except Exception:
            pass
    if retain > 0:
        try:
            versions = []
            for f in bk.list_files(md_dir, suffix=".metadata.json"):
                body = bk.basename(f)[1:-len(".metadata.json")]
                if bk.basename(f).startswith("v") and body.isdigit():
                    versions.append((int(body), f))
            versions.sort()
            for v, f in versions[:-retain] if len(versions) > retain else []:
                if v != version:
                    bk.remove_file_if_exists(f)
        except Exception:
            pass


def _fingerprint(rels: list[str]) -> str:
    import hashlib

    return hashlib.sha256("\n".join(rels).encode()).hexdigest()[:32]


def _spec_fields(partition_cols: list[str], ids: dict[str, int]) -> list:
    return [{"name": c, "transform": "identity", "source-id": ids[c],
             "field-id": 1000 + i} for i, c in enumerate(partition_cols)]


def _partition_summaries(entries: list[dict],
                         partition_cols: list[str]) -> list[dict]:
    """manifest_file.partitions: per-field contains_null + int bounds
    (single-value serialization: 4-byte little-endian for int)."""
    import struct

    out = []
    for c in partition_cols:
        vals = [e["data_file"]["partition"][c] for e in entries]
        present = [v for v in vals if v is not None]
        out.append({
            "contains_null": any(v is None for v in vals),
            "contains_nan": False,
            "lower_bound": struct.pack("<i", min(present))
            if present else None,
            "upper_bound": struct.pack("<i", max(present))
            if present else None,
        })
    return out
