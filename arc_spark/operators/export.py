"""External-reader export: publish a measurement's COMMITTED file set as
a table other engines can read (reference `internal/iceberg/exporter.go:1-760`
— reconcile the engine's Parquet set into an external table commit with
ReplaceDataFiles semantics, no data rewrite; behavior kept, code ours).

The engine's own snapshot layer (`arc_spark.snapshots`) gives atomic
visibility to arc_spark readers, but `_arc_snapshots/vN.json` is a
private format: a vanilla Spark / Trino / DuckDB reader pointed at the
directory would glob it and see crash orphans and in-flight compaction
output. Two export surfaces close that gap:

- :func:`export_delta_log` — ZERO-COPY: write a spec-compliant Delta
  Lake transaction log (`_delta_log/NNN.json`, public protocol
  https://github.com/delta-io/delta/blob/master/PROTOCOL.md) next to the
  existing data files. Delta-capable readers (Spark+delta, Trino,
  DuckDB delta_scan) resolve exactly the committed set in place; orphans
  sit unreferenced beside it, invisible — the exporter's
  ReplaceDataFiles parity without moving a byte. Re-export after new
  engine commits appends an incremental add/remove commit (computed
  against the log's current file set), not a full rewrite.
- :func:`export_tree` — MATERIALIZED: hard-link (local; copy elsewhere)
  only the committed files into a clean destination tree, plus the same
  Delta log over the copies. ANY parquet reader — including vanilla
  Spark with no extra jars — reads the destination and sees exactly the
  committed set, because nothing else is there. This is the portable
  fallback for readers without Delta support and the cheap way to hand
  a consistent table to another system.

Scale: both paths are metadata-plane — O(committed files) driver work,
no Spark job, no data pages read (the schema comes from ≤
``SCHEMA_SAMPLE_FILES`` parquet footers). Hard links make
:func:`export_tree` O(files) inode ops on local storage. At 100 TB the
file count is bounded by compaction (≈ one file per partition-hour), so
a full export commit is a few MB of JSON — the same order as an Iceberg
manifest rewrite.
"""

from __future__ import annotations

import json
import time
import urllib.parse
import uuid

from arc_spark import snapshots
from arc_spark.storage import backend_for

DELTA_LOG_DIR = "_delta_log"
SCHEMA_SAMPLE_FILES = 50


def _partition_values(rel: str) -> dict[str, str]:
    """`year=2024/month=1/.../f.parquet` → {"year": "2024", ...}."""
    out = {}
    for seg in rel.replace("\\", "/").split("/")[:-1]:
        if "=" in seg:
            k, _, v = seg.partition("=")
            out[k] = v
    return out


def _spark_schema_json(bk, files: list[str], partition_cols: list[str]) -> str:
    """Delta `schemaString`: Spark StructType JSON unified over up to
    SCHEMA_SAMPLE_FILES footers, with hive partition columns appended as
    integers (they live in directory names, not in the files)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import from_arrow_schema

    sample = files[:SCHEMA_SAMPLE_FILES]
    if not sample:
        return json.dumps({"type": "struct", "fields": [
            {"name": col, "type": "integer", "nullable": True,
             "metadata": {}} for col in partition_cols]})
    schemas = [bk.parquet_schema(f) for f in sample]
    unified = (schemas[0] if len(schemas) == 1
               else pa.unify_schemas(schemas, promote_options="permissive"))
    # Delta has no nanosecond timestamp type; µs is Spark's native
    fields = []
    for f in unified:
        t = f.type
        if pa.types.is_timestamp(t) and t.unit != "us":
            f = pa.field(f.name, pa.timestamp("us", tz=t.tz), f.nullable)
        fields.append(f)
    struct = from_arrow_schema(pa.schema(fields))
    d = json.loads(struct.json())
    for col in partition_cols:
        d["fields"].append({"name": col, "type": "integer",
                            "nullable": True, "metadata": {}})
    return json.dumps(d)


def _log_versions(bk, table_path: str) -> list[tuple[int, str]]:
    d = bk.join(table_path, DELTA_LOG_DIR)
    if not bk.isdir(d):
        return []
    out = []
    for f in bk.list_files(d, suffix=".json"):
        body = bk.basename(f)[:-5]
        if body.isdigit():
            out.append((int(body), f))
    out.sort()
    return out


def _checkpoint_files(bk, table_path: str) -> tuple[int, set[str]] | None:
    """Newest checkpoint's (version, active file set), or None. Lets
    writer-side state resolution replay only commits AFTER the
    checkpoint — a long-lived periodic export stays O(changes since
    checkpoint) instead of rereading every JSON commit ever written.
    Any malformed pointer/parquet → None (full replay; the JSON log is
    always authoritative)."""
    base = _checkpoint_base(bk, table_path)
    if base is None:
        return None
    return base[0], set(base[3])


def _log_state(bk, table_path: str) -> tuple[int, set[str]]:
    """(last version, current add-file set): Delta's state
    reconstruction — newest checkpoint as the base when one exists,
    then replay of the commits after it."""
    files: set[str] = set()
    last = -1
    base = _checkpoint_files(bk, table_path)
    if base is not None:
        last, files = base
    start = last
    for ver, path in _log_versions(bk, table_path):
        if ver <= start:
            continue
        last = ver
        for line in bk.read_bytes(path).decode("utf-8").splitlines():
            if not line.strip():
                continue
            action = json.loads(line)
            if "add" in action:
                files.add(urllib.parse.unquote(action["add"]["path"]))
            elif "remove" in action:
                files.discard(urllib.parse.unquote(action["remove"]["path"]))
    return last, files


def _write_commit(bk, table_path: str, version: int,
                  actions: list[dict]) -> bool:
    """Publish `_delta_log/<version>.json` atomically and exclusively —
    the same CAS primitive as engine snapshots, so a concurrent exporter
    can't clobber a version (Delta's optimistic-concurrency rule).
    Returns False when another committer took this version (the caller
    rereads the log and retries, like snapshots.commit losers do)."""
    d = bk.join(table_path, DELTA_LOG_DIR)
    bk.mkdirs(d)
    body = "\n".join(json.dumps(a, separators=(",", ":")) for a in actions)
    tmp = bk.join(d, f".commit-{uuid.uuid4().hex[:8]}.tmp")
    bk.write_bytes(tmp, body.encode("utf-8"))
    final = bk.join(d, f"{version:020d}.json")
    if not bk.move_file_excl(tmp, final):
        bk.remove_file_if_exists(tmp)
        return False
    return True


def export_delta_log(meas_path: str, bk=None, table_name: str | None = None,
                     now_ms: int | None = None) -> dict:
    """Write/advance a Delta transaction log over the measurement's OWN
    tree (zero-copy). Returns {"version", "added", "removed", "files"}.

    First call emits protocol + metaData + an add per committed file;
    subsequent calls diff the engine snapshot against the log's current
    state and append only the add/remove delta (the exporter.go
    reconcile loop). Idempotent: nothing to change → no new commit."""
    bk = bk or backend_for(meas_path)
    rels = _committed_rels(meas_path, bk)
    return _export_log_into(bk, meas_path, meas_path, rels,
                            table_name or bk.basename(meas_path), now_ms)


def _committed_rels(meas_path: str, bk) -> list[str]:
    return snapshots.current(meas_path, bk=bk)[1]


EXPORT_COMMIT_RETRIES = 5

# Classic (non-multi-part) checkpoint cadence — PROTOCOL.md suggests
# every 10 commits; a long-lived periodic export otherwise leaves
# readers replaying O(all commits) JSON forever.
CHECKPOINT_EVERY = 10

# Remove tombstones younger than this stay in checkpoints so external
# VACUUM/streaming readers keep their deletionTimestamp after log
# cleanup — the spec's delta.deletedFileRetentionDuration default.
TOMBSTONE_RETENTION_MS = 7 * 24 * 3600 * 1000


def _checkpoint_base(bk, table_path: str):
    """Newest checkpoint's full state — (version, protocol, metaData,
    {decoded rel: add action}, {decoded rel: remove action}) with
    parquet map columns converted back to dicts — or None when there is
    no usable checkpoint (callers fall back to full JSON replay; the
    log is authoritative)."""
    import io

    import pyarrow.parquet as pq

    d = bk.join(table_path, DELTA_LOG_DIR)
    rows = v = None
    try:
        lc = json.loads(bk.read_bytes(bk.join(d, "_last_checkpoint")))
        v = int(lc["version"])
        rows = pq.read_table(io.BytesIO(bk.read_bytes(
            bk.join(d, f"{v:020d}.checkpoint.parquet")))).to_pylist()
    except Exception:
        # _last_checkpoint is a HINT (PROTOCOL.md): when it's missing or
        # its target checkpoint is unreadable (deleted out-of-band),
        # fall back to the newest checkpoint actually on disk — without
        # this, a lost pointer target after log cleanup would strand
        # state reconstruction with neither a seed nor the cleaned-up
        # JSON prefix
        try:
            cks = sorted(
                int(info.base_name[: -len(".checkpoint.parquet")])
                for info in bk.listdir(d)
                if info.base_name.endswith(".checkpoint.parquet")
                and info.base_name[: -len(".checkpoint.parquet")].isdigit())
        except Exception:
            return None
        # a fallback candidate is only a valid seed if the JSON suffix
        # AFTER it is CONTIGUOUS up to the newest commit — log cleanup
        # may have removed commits between an old checkpoint and the
        # lost pointer target, and replaying across that gap would
        # silently drop those commits from the reconstructed state
        # (and the next checkpoint would cement the loss)
        vers = [ver for ver, _ in _log_versions(bk, table_path)]
        newest = max(vers) if vers else -1
        have = set(vers)
        for cand in reversed(cks):
            if cand == v:
                continue  # the pointer target we already failed to read
            if newest >= 0 and not all(
                    x in have for x in range(cand + 1, newest + 1)):
                continue  # gap after this candidate: unusable seed
            try:
                rows = pq.read_table(io.BytesIO(bk.read_bytes(
                    bk.join(d, f"{cand:020d}.checkpoint.parquet")
                ))).to_pylist()
                v = cand
                break
            except Exception:
                continue
        if rows is None:
            return None
    protocol = meta = None
    files: dict[str, dict] = {}
    tombstones: dict[str, dict] = {}
    for r in rows:
        if r.get("protocol") is not None:
            protocol = r["protocol"]
        elif r.get("metaData") is not None:
            m = dict(r["metaData"])
            m["configuration"] = dict(m.get("configuration") or [])
            fmt = dict(m.get("format") or {})
            fmt["options"] = dict(fmt.get("options") or [])
            m["format"] = fmt
            meta = m
        elif r.get("add") is not None:
            a = dict(r["add"])
            a["partitionValues"] = dict(a.get("partitionValues") or [])
            files[urllib.parse.unquote(a["path"])] = a
        elif r.get("remove") is not None:
            t = {k: v2 for k, v2 in dict(r["remove"]).items()
                 if v2 is not None}
            tombstones[urllib.parse.unquote(t["path"])] = t
    if protocol is None or meta is None:
        return None
    return v, protocol, meta, files, tombstones


def _replay_actions(bk, table_path: str):
    """State reconstruction → (protocol, metaData, {decoded rel: add
    action}, {decoded rel: remove tombstone}) keeping the latest action
    per kind/path — seeded from the
    newest checkpoint when one exists, so successive checkpoints CHAIN
    (each reads the previous one + the ≤CHECKPOINT_EVERY commits after
    it, never the whole history) and checkpointing keeps working after
    the spec's log cleanup removes pre-checkpoint JSON commits."""
    protocol = None
    meta = None
    files: dict[str, dict] = {}
    tombstones: dict[str, dict] = {}
    start = -1
    base = _checkpoint_base(bk, table_path)
    if base is not None:
        start, protocol, meta, files, tombstones = base
    for ver, path in _log_versions(bk, table_path):
        if ver <= start:
            continue
        for line in bk.read_bytes(path).decode("utf-8").splitlines():
            if not line.strip():
                continue
            action = json.loads(line)
            if "protocol" in action:
                protocol = action["protocol"]
            elif "metaData" in action:
                meta = action["metaData"]
            elif "add" in action:
                rel = urllib.parse.unquote(action["add"]["path"])
                files[rel] = action["add"]
                tombstones.pop(rel, None)  # re-added: latest action wins
            elif "remove" in action:
                rel = urllib.parse.unquote(action["remove"]["path"])
                files.pop(rel, None)
                tombstones[rel] = action["remove"]
    return protocol, meta, files, tombstones


def _write_checkpoint(bk, table_path: str, version: int,
                      now_ms: int | None = None) -> None:
    """PROTOCOL.md classic checkpoint: ``<v>.checkpoint.parquet`` holding
    the reconstructed state — one protocol row, one metaData row, one row
    per active add, and one row per UNEXPIRED remove tombstone (this
    exporter writes remove actions whenever files leave the committed
    set; dropping them from checkpoints would lose deletionTimestamp
    info after log cleanup, letting an external VACUUM delete
    recently-removed files early — r6 advisory). Tombstones older than
    ``TOMBSTONE_RETENTION_MS`` (the spec's
    delta.deletedFileRetentionDuration default, 1 week) are expired at
    checkpoint time, exactly when the spec allows. The parquet also
    carries the full classic-checkpoint action schema — a ``txn``
    column, all-null here — because delta-spark validates checkpoint
    schema, not just content. Plus the ``_last_checkpoint`` pointer.
    Readers resolve state from the newest checkpoint + later commits:
    O(changes since checkpoint), not O(all commits). Best-effort — a
    failed/raced checkpoint leaves a valid JSON-only log, and the
    pointer only ever advances."""
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    now_ms = int(time.time() * 1000) if now_ms is None else now_ms
    d = bk.join(table_path, DELTA_LOG_DIR)
    final = bk.join(d, f"{version:020d}.checkpoint.parquet")
    if bk.exists(final):
        return
    protocol, meta, files, tombstones = _replay_actions(bk, table_path)
    if protocol is None or meta is None:
        return
    smap = pa.map_(pa.string(), pa.string())
    t_protocol = pa.struct([("minReaderVersion", pa.int32()),
                            ("minWriterVersion", pa.int32())])
    t_meta = pa.struct([
        ("id", pa.string()), ("name", pa.string()),
        ("description", pa.string()),
        ("format", pa.struct([("provider", pa.string()),
                              ("options", smap)])),
        ("schemaString", pa.string()),
        ("partitionColumns", pa.list_(pa.string())),
        ("configuration", smap),
        ("createdTime", pa.int64())])
    t_add = pa.struct([
        ("path", pa.string()), ("partitionValues", smap),
        ("size", pa.int64()), ("modificationTime", pa.int64()),
        ("dataChange", pa.bool_())])
    t_remove = pa.struct([
        ("path", pa.string()), ("deletionTimestamp", pa.int64()),
        ("dataChange", pa.bool_()),
        ("extendedFileMetadata", pa.bool_()),
        ("partitionValues", smap), ("size", pa.int64())])
    t_txn = pa.struct([
        ("appId", pa.string()), ("version", pa.int64()),
        ("lastUpdated", pa.int64())])
    adds = [{"path": a["path"],  # keep the commit's percent-encoding
             "partitionValues": a["partitionValues"],
             "size": a["size"],
             "modificationTime": a["modificationTime"],
             "dataChange": False}  # per spec, false inside checkpoints
            for _rel, a in sorted(files.items())]
    cutoff = now_ms - TOMBSTONE_RETENTION_MS
    removes = [{"path": t["path"],
                "deletionTimestamp": t.get("deletionTimestamp"),
                "dataChange": False,
                "extendedFileMetadata": t.get("extendedFileMetadata",
                                              False),
                "partitionValues": t.get("partitionValues"),
                "size": t.get("size")}
               for _rel, t in sorted(tombstones.items())
               # `or 0`: an externally written log may carry an explicit
               # null deletionTimestamp — treat it as expired rather than
               # raising (which the best-effort wrapper would swallow,
               # silently disabling checkpoints for this table forever)
               if (t.get("deletionTimestamp") or 0) > cutoff]
    n = 2 + len(adds) + len(removes)
    tbl = pa.table({
        "txn": pa.array([None] * n, type=t_txn),
        "protocol": pa.array([protocol] + [None] * (n - 1),
                             type=t_protocol),
        "metaData": pa.array(
            [None, {k: meta.get(k) for k in
                    ("id", "name", "description", "format",
                     "schemaString", "partitionColumns",
                     "configuration", "createdTime")}]
            + [None] * (n - 2), type=t_meta),
        "add": pa.array([None, None] + adds + [None] * len(removes),
                        type=t_add),
        "remove": pa.array([None] * (2 + len(adds)) + removes,
                           type=t_remove),
    })
    buf = io.BytesIO()
    pq.write_table(tbl, buf)
    tmp = bk.join(d, f".ckpt-{uuid.uuid4().hex[:8]}.tmp")
    bk.write_bytes(tmp, buf.getvalue())
    if not bk.move_file_excl(tmp, final):
        bk.remove_file_if_exists(tmp)  # raced — that version's writer won
        return
    lc = bk.join(d, "_last_checkpoint")
    try:
        if int(json.loads(bk.read_bytes(lc)).get("version", -1)) >= version:
            return  # never move the pointer backwards
    except Exception:
        pass
    bk.write_bytes(lc, json.dumps(
        {"version": version, "size": n},
        separators=(",", ":")).encode("ascii"))


def _export_log_into(bk, meas_path: str, table_path: str, rels: list[str],
                     table_name: str, now_ms: int | None) -> dict:
    """CAS-retry loop: a loser against a concurrent exporter rereads the
    log and rediffs (usually a no-op — the winner exported the same
    committed set) instead of failing the caller's whole sweep."""
    now_ms = int(time.time() * 1000) if now_ms is None else now_ms
    for _attempt in range(EXPORT_COMMIT_RETRIES):
        out = _export_log_attempt(bk, meas_path, table_path, rels,
                                  table_name, now_ms)
        if out is not None:
            return out
    raise RuntimeError(
        f"delta log export at {table_path}: lost the version CAS "
        f"{EXPORT_COMMIT_RETRIES} times to concurrent exporters")


def _export_log_attempt(bk, meas_path: str, table_path: str,
                        rels: list[str], table_name: str,
                        now_ms: int) -> dict | None:
    last, current = _log_state(bk, table_path)
    want = set(rels)
    added = sorted(want - current)
    removed = sorted(current - want)
    if last >= 0 and not added and not removed:
        return {"version": last, "added": 0, "removed": 0,
                "files": len(current)}
    actions: list[dict] = []
    version = last + 1
    if last < 0:
        part_cols = sorted(_partition_values(rels[0])) if rels else []
        actions.append({"protocol": {"minReaderVersion": 1,
                                     "minWriterVersion": 2}})
        actions.append({"metaData": {
            "id": uuid.uuid4().hex,
            "name": table_name,
            "format": {"provider": "parquet", "options": {}},
            "schemaString": _spark_schema_json(
                bk, [bk.join(meas_path, r) for r in rels], part_cols),
            "partitionColumns": part_cols,
            "configuration": {},
            "createdTime": now_ms,
        }})
    actions.append({"commitInfo": {
        "timestamp": now_ms, "operation": "WRITE",
        "operationParameters": {"source": "arc_spark.export"},
    }})
    for rel in added:
        actions.append({"add": {
            # PROTOCOL.md: path is a percent-encoded relative path ("=" and
            # "/" stay raw, matching delta-spark's own hive-layout logs)
            "path": urllib.parse.quote(rel, safe="/="),
            "partitionValues": _partition_values(rel),
            "size": bk.size(bk.join(meas_path, rel)),
            "modificationTime": now_ms,
            "dataChange": True,
        }})
    for rel in removed:
        actions.append({"remove": {
            "path": urllib.parse.quote(rel, safe="/="),
            "deletionTimestamp": now_ms, "dataChange": True,
        }})
    if not _write_commit(bk, table_path, version, actions):
        return None  # lost the race — caller rereads and retries
    if (version + 1) % CHECKPOINT_EVERY == 0:
        try:
            _write_checkpoint(bk, table_path, version, now_ms=now_ms)
        except Exception:
            pass  # hint layer only; the JSON log stays authoritative
    return {"version": version, "added": len(added),
            "removed": len(removed), "files": len(want)}


def export_tree(meas_path: str, dest: str, bk=None,
                table_name: str | None = None,
                now_ms: int | None = None) -> dict:
    """Materialize ONLY the committed files into ``dest`` (hard links on
    local storage — O(inode) per file, no bytes copied; byte copy across
    backends) and write the same Delta log over the destination.

    ``dest`` then reads correctly in ANY parquet engine with no Delta
    support and no arc_spark code: a plain ``spark.read.parquet(dest)``
    sees exactly the committed set, because orphans were never linked.
    Incremental: re-export links new files, removes dropped ones, and
    appends a log commit with the same diff."""
    import os

    bk = bk or backend_for(meas_path)
    dbk = backend_for(dest)
    rels = _committed_rels(meas_path, bk)
    _, have = _log_state(dbk, dest)
    local = dbk.scheme is None and bk.scheme is None
    linked = copied = 0
    for rel in rels:
        if rel in have:
            continue
        src, dst = bk.join(meas_path, rel), dbk.join(dest, rel)
        dbk.mkdirs(dbk.dirname(dst))
        if local:
            try:
                os.link(bk.fs_path(src), dbk.fs_path(dst))
                linked += 1
                continue
            except FileExistsError:
                linked += 1
                continue
            except OSError:
                pass  # cross-device: fall through to byte copy
        bk.stream_copy_to(src, dbk, dst)  # chunked: bounded memory
        copied += 1
    for rel in sorted(have - set(rels)):
        dbk.remove_file_if_exists(dbk.join(dest, rel))
    out = _export_log_into(dbk, dest, dest, rels,
                           table_name or bk.basename(meas_path), now_ms)
    out["linked"] = linked
    out["copied"] = copied
    return out
