"""Configuration file + engine assembly (the deployment surface).

Reference: /root/reference/arc.toml + internal/config/config.go
(Load → validate → env overrides) and cmd/arc/main.go (config → wired
server). This module is the same contract on the Spark engine:

- :func:`load_config` reads an arc.toml-equivalent (stdlib ``tomllib``),
  deep-merges it over defaults, then applies ``ARC_<SECTION>_<KEY>``
  environment overrides (the reference's env scheme, config.go) with
  type coercion taken from the default's type.
- :func:`build_engine` assembles the full engine from a config dict:
  SparkSession → IngestService (the DEFAULT profile is deferred-decode +
  flush workers — the measured 4-13M rec/s path; the synchronous profile
  is opt-in via ``[ingest] defer_decode=false``) → QueryService → auth /
  audit / breaker / reconciler / scheduler → :class:`ArcServer`.
- ``python -m arc_spark serve -c arc.toml`` (``__main__.py``) boots it
  and installs SIGTERM/SIGINT graceful shutdown (reference
  internal/shutdown/): stop accepting requests, stop scheduler jobs,
  drain + close ingest (flush buffers, seal the WAL), close audit.

Decimal columns use the reference's ``measurement:col=precision,scale``
string syntax (internal/config/decimal.go ParseDecimalColumns).
"""

from __future__ import annotations

import copy
import os
from typing import Any

DEFAULTS: dict[str, dict[str, Any]] = {
    "server": {
        "host": "127.0.0.1",
        "port": 8000,
        "tls_enabled": False,
        "tls_cert_file": "",
        "tls_key_file": "",
    },
    "log": {"level": "info"},
    "spark": {
        "master": "",            # "" → local[cpus]
        "cpus": 0,               # 0 → os.cpu_count()
        "shuffle_partitions": 0,  # 0 → cpus
    },
    "storage": {
        "backend": "local",      # "local" or "s3"
        "local_path": "./data/arc",
        "cold_path": "",         # second tier root ("" = none)
        "daily_path": "",        # day-compacted tier root ("" = none)
        # S3/MinIO (when backend = "s3") — reference arc.toml [storage];
        # credentials via env ARC_STORAGE_S3_ACCESS_KEY / _SECRET_KEY
        "s3_bucket": "",
        "s3_prefix": "arc",
        "s3_region": "",
        "s3_endpoint": "",       # empty for AWS; host:port for MinIO
        "s3_use_ssl": False,
        "s3_access_key": "",
        "s3_secret_key": "",
        # Azure Blob Storage (when backend = "azure") — reference
        # internal/storage/azure.go + config.go AzureAccountName/...;
        # credentials via config or env ARC_STORAGE_AZURE_ACCOUNT_NAME /
        # _ACCOUNT_KEY. Empty key → DefaultAzureCredential chain (managed
        # identity). azure_endpoint targets Azurite in tests.
        "azure_container": "",
        "azure_prefix": "arc",
        "azure_account_name": "",
        "azure_account_key": "",
        "azure_endpoint": "",
        "azure_use_ssl": True,
    },
    "ingest": {
        "max_buffer_size": 50_000,
        "max_buffer_age_ms": 5_000,
        # the default deployment profile: ack = WAL append only, decode on
        # the flush path, big backlogs drain distributed (r3 verdict item:
        # this profile measured 9.45-13M rec/s vs 2.6M synchronous)
        "defer_decode": True,
        "flush_workers": 2,
        "wal_enabled": True,
        "wal_path": "",          # "" → <local_path>/../wal
        # "fsync" | "fdatasync" (skips the metadata flush — reference
        # wal.sync_mode) | "batch" | "none"
        "wal_sync": "fsync",
        "decimal_columns": [],   # ["measurement:col=precision,scale", ...]
        "sort_keys": [],         # ["measurement:col1,col2", ...] — time
                                 # appended automatically (sort_keys.go)
    },
    "query": {
        # deployment-wide limits for tokens without an explicit policy
        # (0 = unlimited); per-token policies override
        "max_rows": 0,
        "timeout_s": 0.0,
        "queries_per_minute": 0,
        # native-serving decoded-file cache (catalog._DecodedFileCache):
        # total budget in MB (0 disables) and the per-file size gate in
        # KB — only files at/under the gate are cached (tiny hour-files;
        # big compacted files stream efficiently already). The
        # ARC_SPARK_SCAN_CACHE_* env knobs SEED these defaults (r9
        # review: build_engine used to clobber an env override with the
        # literal default); an explicit config-file value still wins.
        "scan_cache_mb": int(os.environ.get(
            "ARC_SPARK_SCAN_CACHE_MB", "128")),
        "scan_cache_file_kb": int(os.environ.get(
            "ARC_SPARK_SCAN_CACHE_FILE_KB", "256")),
    },
    "metrics": {
        # in-memory time-series rings (internal/metrics/timeseries.go)
        "timeseries_enabled": True,
        "timeseries_interval_s": 10.0,
        "timeseries_retention_minutes": 60,
    },
    "edge_sync": {
        # hub side: accept file uploads + reconcile (internal/edgesync)
        "hub_enabled": False,
        "hub_index_db": "",      # "" → in-memory
        "hub_id": "hub",
        # air-gap bundle import (internal/edgesync bundle family):
        # operator routes enabled only when import dirs are allowed
        "hub_bundle_import_dirs": [],   # empty → bundle import disabled
        "hub_bundle_index_db": "",      # replay index; "" → in-memory
        "hub_spoke_registry_db": "",    # spoke secrets; "" → in-memory
        # spoke side: replicate committed files to a hub on an interval
        "spoke_enabled": False,
        "spoke_hub_url": "",
        "spoke_hub_token": "",   # or env ARC_EDGE_SYNC_SPOKE_TOKEN
        "spoke_id": "spoke",
        "spoke_interval_s": 60.0,
        "spoke_ledger_db": "",   # "" → ./edge_ledger.db
        # air-gap export identity (a bundle is FOR one hub; the secret
        # signs the manifest — or env ARC_EDGE_SYNC_SPOKE_SECRET)
        "spoke_hub_id": "hub",
        "spoke_secret": "",
    },
    "maintenance": {
        # crashed-run Spark temp-dir sweep at serve boot (the reference
        # sweeps DuckDB spill files before opening the database,
        # internal/database/spill_cleanup.go)
        "cleanup_spark_temp_on_boot": True,
        "spark_temp_max_age_hours": 24.0,
    },
    "compaction": {
        "enabled": True,
        "interval_s": 300,
        "min_age_hours": 1.0,
        "min_files": 10,
        "max_files_per_batch": 30,
        "daily_enabled": False,
        "daily_interval_s": 3600,
        "daily_min_files": 12,
    },
    "retention": {
        "enabled": False,
        "interval_s": 3600,
        "days": 0,               # 0 = no TTL even when enabled
        "buffer_days": 1.0,
    },
    # external-reader export (reference internal/iceberg/scheduler.go):
    # dest_path="" = zero-copy Delta log in place; non-empty = committed-
    # only hardlink/copy tree + Delta log at <dest_path>/<db>/<meas>
    "export": {
        "enabled": False,
        "interval_s": 3600,
        "dest_path": "",
        # metadata format(s) to publish: "delta" (transaction log),
        # "iceberg" (v2 metadata + Hadoop discovery files — the
        # reference's native export format, internal/iceberg/), "both"
        "format": "delta",
        # iceberg snapshot history floor (0 = keep all) — the
        # reference's expireSnapshots retain-last
        "retain_snapshots": 10,
    },
    # tiered storage policies + scheduled migration (reference
    # internal/tiering/: policy.go per-db hot_only / hot_max_age_days,
    # scheduler.go periodic sweep). Needs [storage] cold_path.
    "tiering": {
        "enabled": False,
        "interval_s": 3600,
        "default_hot_max_age_days": 30,
        "policies_db_path": "",   # "" -> in-memory
    },
    # MQTT subscription manager (reference [mqtt] + internal/mqtt/):
    # persisted broker subscriptions with CRUD/lifecycle routes at
    # /api/v1/mqtt/subscriptions; encryption_key (base64, or env
    # ARC_MQTT_ENCRYPTION_KEY) AES-GCM-encrypts stored passwords
    "mqtt": {"enabled": False, "db_path": "", "encryption_key": ""},
    "auth": {"enabled": False, "db_path": ""},
    # hierarchical RBAC (reference internal/auth/rbac_manager.go; the
    # reference gates this behind an enterprise license — here it's a flag).
    # db_path "" shares the auth store's database file when auth has one.
    "rbac": {"enabled": False, "db_path": ""},
    "audit_log": {
        "enabled": False,
        "db_path": "",
        "retention_days": 90,
        "include_reads": False,
    },
    "circuit_breaker": {
        "enabled": True,
        "max_failures": 5,
        "timeout_s": 30.0,
        "half_open_max_requests": 3,
    },
    "reconciliation": {
        "enabled": True,
        "interval_s": 86_400,
        "grace_window_s": 86_400,
        "max_deletions": 10_000,
        "delete_stray_data": False,
    },
}

_TRUE = {"1", "true", "yes", "on"}
_FALSE = {"0", "false", "no", "off"}


def _coerce(raw: str, like: Any) -> Any:
    if isinstance(like, bool):
        low = raw.strip().lower()
        if low in _TRUE:
            return True
        if low in _FALSE:
            return False
        raise ValueError(f"not a boolean: {raw!r}")
    if isinstance(like, int) and not isinstance(like, bool):
        return int(raw)
    if isinstance(like, float):
        return float(raw)
    if isinstance(like, list):
        return [p.strip() for p in raw.split(";") if p.strip()]
    return raw


def _check_file_value(section: str, key: str, value: Any, like: Any) -> Any:
    """Validate a toml-file value for a KNOWN key against the default's
    type, so ``port = "8000"`` or a scalar where a list is expected fails
    at load with a clear message instead of deep inside build_engine
    (reference config Load → validate ordering). String values are run
    through the same coercion as env overrides (a quoted int/bool/list is
    a common toml mistake and has one obvious meaning)."""
    where = f"[{section}] {key}"

    def coerced() -> Any:
        try:
            return _coerce(value, like)
        except ValueError as exc:
            raise ValueError(f"{where}: {exc}") from None

    if isinstance(like, bool):
        if isinstance(value, bool):
            return value
        if isinstance(value, str):
            return coerced()
        raise ValueError(f"{where}: expected a boolean, got {value!r}")
    if isinstance(like, int):
        if isinstance(value, bool) or not isinstance(value, (int, str)):
            raise ValueError(f"{where}: expected an integer, got {value!r}")
        return coerced() if isinstance(value, str) else value
    if isinstance(like, float):
        if isinstance(value, bool) or not isinstance(value, (int, float, str)):
            raise ValueError(f"{where}: expected a number, got {value!r}")
        return coerced() if isinstance(value, str) else float(value)
    if isinstance(like, list):
        if isinstance(value, list):
            return value
        if isinstance(value, str):
            return coerced()  # ";"-split, same as env
        raise ValueError(f"{where}: expected a list, got {value!r}")
    if not isinstance(value, str):
        raise ValueError(f"{where}: expected a string, got {value!r}")
    return value


def load_config(path: str | None = None,
                env: dict[str, str] | None = None) -> dict:
    """Defaults ← toml file ← ``ARC_<SECTION>_<KEY>`` env overrides.

    File values for KNOWN keys are type-checked/coerced against the
    defaults (a bad type raises at load, and unknown keys inside known
    sections log a warning — likely misspellings). Unknown SECTIONS are
    kept verbatim (forward compat, like the reference tolerating
    enterprise sections it does not use). Env overrides only apply to
    keys with a known default (their type drives the coercion; lists
    split on ``;``)."""
    cfg = copy.deepcopy(DEFAULTS)
    if path:
        import logging
        import tomllib

        with open(path, "rb") as fh:
            loaded = tomllib.load(fh)
        for section, vals in loaded.items():
            if not isinstance(vals, dict):
                cfg.setdefault("_top", {})[section] = vals
                continue
            dst = cfg.setdefault(section, {})
            known = DEFAULTS.get(section)
            for key, value in vals.items():
                if known is not None and key in known:
                    dst[key] = _check_file_value(
                        section, key, value, known[key])
                else:
                    if known is not None:
                        logging.getLogger("arc_spark.config").warning(
                            "%s: unknown key [%s] %s (kept verbatim; "
                            "check spelling)", path, section, key)
                    dst[key] = value
    env = os.environ if env is None else env
    for section, vals in DEFAULTS.items():
        for key, default in vals.items():
            var = f"ARC_{section.upper()}_{key.upper()}"
            if var in env:
                cfg[section][key] = _coerce(env[var], default)
    _check_enums(cfg)
    return cfg


# enum-valued keys: a typo must fail `check-config`, not silently pick a
# default behavior at runtime (storage.backend="S3" would otherwise fall
# back to LOCAL storage; export.format="icberg" would fail only when the
# scheduled job first fires)
_ENUM_KEYS = {
    ("storage", "backend"): ("local", "s3", "azure"),
    ("export", "format"): ("delta", "iceberg", "both"),
    ("ingest", "wal_sync"): ("fsync", "fdatasync", "batch", "none"),
}


def _check_enums(cfg: dict) -> None:
    for (section, key), allowed in _ENUM_KEYS.items():
        val = cfg.get(section, {}).get(key)
        if val not in allowed:
            raise ValueError(
                f"[{section}] {key} must be one of "
                f"{'|'.join(allowed)}, got {val!r}")


def parse_decimal_columns(entries: list[str]) -> dict[str, dict[str, tuple[int, int]]]:
    """``measurement:col=precision,scale[;col2=p,s]`` →
    {measurement: {col: (p, s)}} (reference decimal.go ParseDecimalColumns)."""
    out: dict[str, dict[str, tuple[int, int]]] = {}
    for entry in entries:
        meas, _, spec = entry.partition(":")
        meas = meas.strip()
        if not meas or not spec:
            raise ValueError(
                f"invalid decimal column format: {entry!r} "
                "(expected 'measurement:col=precision,scale')")
        cols: dict[str, tuple[int, int]] = {}
        for part in spec.split(";"):
            part = part.strip()
            if not part:
                continue
            col, _, ps = part.partition("=")
            p_s = ps.split(",")
            if not col.strip() or len(p_s) != 2:
                raise ValueError(f"invalid decimal spec {part!r} in {entry!r}")
            precision, scale = int(p_s[0]), int(p_s[1])
            if not (1 <= precision <= 38) or not (0 <= scale <= precision):
                raise ValueError(
                    f"decimal precision/scale out of range in {entry!r}")
            cols[col.strip()] = (precision, scale)
        if not cols:
            raise ValueError(f"no decimal columns specified in {entry!r}")
        out.setdefault(meas, {}).update(cols)
    return out


def parse_sort_keys(entries: list[str]) -> dict[str, list[str]]:
    """``measurement:col1,col2`` → {measurement: [col1, col2]} (reference
    internal/config/sort_keys.go; ``time`` is appended by the writer)."""
    out: dict[str, list[str]] = {}
    for entry in entries:
        meas, _, cols = entry.partition(":")
        meas = meas.strip()
        col_list = [c.strip() for c in cols.split(",") if c.strip()]
        if not meas or not col_list:
            raise ValueError(
                f"invalid sort_keys entry: {entry!r} "
                "(expected 'measurement:col1,col2')")
        out[meas] = col_list
    return out


def resolve_storage_root(st: dict) -> str:
    """[storage] section → the engine's root path. ``backend="s3"``
    constructs a configured :class:`pyarrow.fs.S3FileSystem` (endpoint
    override for MinIO, region, creds from config or the
    ``ARC_STORAGE_S3_*`` env vars the reference documents) and registers
    it for the ``s3://`` scheme so every backend_for() hit — driver AND
    executor side — resolves to the configured store. ``backend="azure"``
    does the same with :class:`pyarrow.fs.AzureFileSystem` on the ``az://``
    scheme (reference internal/storage/azure.go)."""
    if st["backend"] == "azure":
        return _resolve_azure_root(st)
    if st["backend"] != "s3":
        return st["local_path"]
    if not st["s3_bucket"]:
        raise ValueError('storage.backend="s3" requires storage.s3_bucket')
    import pyarrow.fs as pafs

    from arc_spark import storage as _storage

    kw: dict = {}
    if st["s3_endpoint"]:
        scheme_pfx = "https://" if st["s3_use_ssl"] else "http://"
        ep = st["s3_endpoint"]
        kw["endpoint_override"] = (
            ep if "://" in ep else scheme_pfx + ep)
    if st["s3_region"]:
        kw["region"] = st["s3_region"]
    access = st["s3_access_key"] or os.environ.get("ARC_STORAGE_S3_ACCESS_KEY", "")
    secret = st["s3_secret_key"] or os.environ.get("ARC_STORAGE_S3_SECRET_KEY", "")
    if access:
        kw["access_key"] = access
        kw["secret_key"] = secret
    _storage.register_scheme(
        "s3", _storage.StorageBackend(
            pafs.S3FileSystem(**kw), scheme="s3", spark_prefix="s3a://"))
    prefix = st["s3_prefix"].strip("/")
    return f"s3://{st['s3_bucket']}" + (f"/{prefix}" if prefix else "")


def _resolve_azure_root(st: dict) -> str:
    import pyarrow.fs as pafs

    from arc_spark import storage as _storage

    if not st["azure_container"]:
        raise ValueError(
            'storage.backend="azure" requires storage.azure_container')
    account = st["azure_account_name"] or os.environ.get(
        "ARC_STORAGE_AZURE_ACCOUNT_NAME", "")
    if not account:
        raise ValueError(
            'storage.backend="azure" requires storage.azure_account_name '
            "(or ARC_STORAGE_AZURE_ACCOUNT_NAME)")
    key = st["azure_account_key"] or os.environ.get(
        "ARC_STORAGE_AZURE_ACCOUNT_KEY", "")
    fs = pafs.AzureFileSystem(account, **_storage.azure_filesystem_kwargs(
        key, st["azure_endpoint"], st["azure_use_ssl"]))
    _storage.register_scheme("az", _storage.AzureBackend(
        fs, account_name=account, scheme="az",
        use_ssl=st["azure_use_ssl"]))
    prefix = st["azure_prefix"].strip("/")
    return (f"az://{st['azure_container']}"
            + (f"/{prefix}" if prefix else ""))


def build_engine(cfg: dict, spark=None) -> dict:
    """Config → fully wired engine components (not yet serving).

    Returns {"server", "spark", "catalog", "query", "ingest", "scheduler",
    "auth", "audit", "breaker", "reconciler"} — ``server.start()`` begins
    serving; :func:`shutdown` tears everything down in order."""
    from arc_spark.api import IngestService, QueryService
    from arc_spark.catalog import MeasurementCatalog
    from arc_spark.governance import Governor
    from arc_spark.scheduler import MaintenanceScheduler
    from arc_spark.server import ArcServer

    if spark is None:
        from arc_spark.session import get_spark

        sp = cfg["spark"]
        spark = get_spark(
            cpus=sp["cpus"] or None,
            shuffle_partitions=sp["shuffle_partitions"] or None,
        )

    st = cfg["storage"]
    root = resolve_storage_root(st)
    catalog = MeasurementCatalog(
        spark, root,
        cold_root=st["cold_path"] or None,
        daily_root=st["daily_path"] or None,
    )
    qc = cfg["query"]
    default_policy = None
    if qc["max_rows"] or qc["timeout_s"] or qc["queries_per_minute"]:
        from arc_spark.governance import TokenPolicy

        default_policy = TokenPolicy(
            max_queries_per_minute=qc["queries_per_minute"] or None,
            max_rows=qc["max_rows"] or None,
            max_duration_s=qc["timeout_s"] or None,
        )
    query = QueryService(spark, catalog,
                         governor=Governor(default_policy=default_policy))
    # size the process-wide decoded-file cache from config (env knobs
    # ARC_SPARK_SCAN_CACHE_* keep working as the default source)
    import arc_spark.catalog as _cat

    _cat._scan_cache = _cat._DecodedFileCache(
        max_bytes=int(qc["scan_cache_mb"]) << 20,
        max_file_bytes=int(qc["scan_cache_file_kb"]) << 10)

    ing = cfg["ingest"]
    wal_dir = None
    if ing["wal_enabled"]:
        if ing["wal_path"]:
            wal_dir = ing["wal_path"]
        elif "://" in root:
            # object-store root: the WAL is a LOCAL fsync log by design
            # (the reference's WAL lives on node-local disk too)
            wal_dir = os.path.abspath("./wal")
        else:
            wal_dir = os.path.join(
                os.path.dirname(os.path.abspath(root)) or ".", "wal")
    ingest = IngestService(
        spark, root,
        wal_dir=wal_dir,
        max_buffer_rows=ing["max_buffer_size"],
        max_buffer_age_s=ing["max_buffer_age_ms"] / 1000.0,
        defer_decode=ing["defer_decode"],
        wal_sync=ing["wal_sync"],
        flush_workers=ing["flush_workers"],
        decimal_config=parse_decimal_columns(ing["decimal_columns"]),
        sort_keys_config=parse_sort_keys(ing["sort_keys"]),
    )

    auth = None
    if cfg["auth"]["enabled"]:
        from arc_spark.auth import AuthStore

        auth = AuthStore(cfg["auth"]["db_path"] or ":memory:")
    rbac = None
    if cfg["rbac"]["enabled"]:
        from arc_spark.rbac import RBACStore

        rbac = RBACStore(
            cfg["rbac"]["db_path"] or cfg["auth"]["db_path"] or ":memory:",
            enabled=True)
    audit = None
    if cfg["audit_log"]["enabled"]:
        from arc_spark.audit import AuditLogger

        a = cfg["audit_log"]
        audit = AuditLogger(
            a["db_path"] or ":memory:",
            retention_days=a["retention_days"],
            include_reads=a["include_reads"],
        )
    breaker = None
    if cfg["circuit_breaker"]["enabled"]:
        from arc_spark.resilience import CircuitBreaker

        b = cfg["circuit_breaker"]
        breaker = CircuitBreaker(
            name="engine", max_failures=b["max_failures"],
            timeout_s=b["timeout_s"],
            half_open_max_requests=b["half_open_max_requests"],
        )
    reconciler = None
    if cfg["reconciliation"]["enabled"]:
        from arc_spark.operators.reconciliation import Reconciler

        r = cfg["reconciliation"]
        reconciler = Reconciler(
            root, grace_window_s=r["grace_window_s"],
            max_deletions=r["max_deletions"],
            delete_stray_data=r["delete_stray_data"], audit=audit,
        )

    scheduler = MaintenanceScheduler()
    comp = cfg["compaction"]
    if comp["enabled"]:
        from arc_spark.operators.compaction import compact_measurement
        from arc_spark.storage import backend_for

        def _compact_all(spark=spark, root=root):
            bk = backend_for(root)
            out = []
            if bk.isdir(root):
                for db in bk.list_dirs(root):
                    for meas in bk.list_dirs(bk.join(root, db)):
                        out.extend(compact_measurement(
                            spark, root, db, meas,
                            min_files=comp["min_files"],
                            min_age_seconds=comp["min_age_hours"] * 3600,
                            max_files_per_batch=comp["max_files_per_batch"],
                        ))
            return {"partitions": len(out)}

        scheduler.add_job("compaction", _compact_all, comp["interval_s"])
    ret = cfg["retention"]
    if ret["enabled"] and ret["days"] > 0:
        from arc_spark.operators.lifecycle import apply_retention
        from arc_spark.storage import backend_for

        def _retention_all(root=root):
            bk = backend_for(root)
            removed = 0
            if bk.isdir(root):
                for db in bk.list_dirs(root):
                    for meas in bk.list_dirs(bk.join(root, db)):
                        gone = apply_retention(
                            root, db, meas, retention_days=ret["days"],
                            buffer_days=ret["buffer_days"])
                        removed += len(gone)
            return {"removed": removed}

        scheduler.add_job("retention", _retention_all, ret["interval_s"])
    exp = cfg["export"]
    if exp["enabled"]:
        from arc_spark.operators.export import export_delta_log, export_tree
        from arc_spark.operators.iceberg_export import export_iceberg
        from arc_spark.storage import backend_for

        fmt = exp.get("format", "delta")
        if fmt not in ("delta", "iceberg", "both"):
            raise ValueError(
                f"[export] format must be delta|iceberg|both, got {fmt!r}")

        def _export_all(root=root):
            bk = backend_for(root)
            out = {"measurements": 0, "commits": 0}
            if bk.isdir(root):
                for db in bk.list_dirs(root):
                    for meas in bk.list_dirs(bk.join(root, db)):
                        mp = bk.join(root, db, meas)
                        changed = False
                        if fmt in ("delta", "both"):
                            if exp["dest_path"]:
                                dbk = backend_for(exp["dest_path"])
                                r = export_tree(
                                    mp,
                                    dbk.join(exp["dest_path"], db, meas),
                                    bk=bk, table_name=f"{db}.{meas}")
                            else:
                                r = export_delta_log(
                                    mp, bk=bk, table_name=f"{db}.{meas}")
                            changed |= bool(r["added"] or r["removed"])
                        if fmt in ("iceberg", "both"):
                            # iceberg metadata is zero-copy in place
                            # (manifests reference absolute data paths)
                            r = export_iceberg(
                                mp, bk=bk, table_name=f"{db}.{meas}",
                                retain=exp.get("retain_snapshots", 10))
                            changed |= bool(r["changed"])
                        out["measurements"] += 1
                        out["commits"] += 1 if changed else 0
            return out

        scheduler.add_job("export", _export_all, exp["interval_s"])
    if reconciler is not None:
        rec_cfg = cfg["reconciliation"]
        scheduler.add_job(
            "reconciliation", lambda: reconciler.reconcile(dry_run=False),
            rec_cfg["interval_s"])

    srv = cfg["server"]
    if srv["tls_enabled"] and not srv["tls_cert_file"]:
        raise ValueError("server.tls_enabled requires server.tls_cert_file")
    server = ArcServer(
        query, ingest, auth=auth,
        host=srv["host"], port=srv["port"],
        audit=audit, breaker=breaker, reconciler=reconciler,
        scheduler=scheduler,
        tls_cert=srv["tls_cert_file"] if srv["tls_enabled"] else None,
        tls_key=srv["tls_key_file"] or None,
        rbac=rbac,
    )
    ti = cfg["tiering"]
    if cfg["storage"]["cold_path"]:
        from arc_spark.operators.tiering import (
            TieringPolicyStore,
            migrate_all,
        )

        server.tiering_policies = TieringPolicyStore(
            ti["policies_db_path"] or ":memory:")
        server.tiering_default_days = ti["default_hot_max_age_days"]
        if ti["enabled"]:
            cold = cfg["storage"]["cold_path"]

            def _tiering_sweep(root=root, cold=cold):
                return migrate_all(root, cold, server.tiering_policies,
                                   ti["default_hot_max_age_days"])

            scheduler.add_job("tiering", _tiering_sweep, ti["interval_s"])
    mq = cfg["mqtt"]
    if mq["enabled"]:
        from arc_spark.sources.mqtt import MqttIngestBridge
        from arc_spark.sources.mqtt_subscriptions import (
            SubscriptionManager,
            SubscriptionRepository,
            build_encryptor,
        )

        enc_key = (mq["encryption_key"]
                   or os.environ.get("ARC_MQTT_ENCRYPTION_KEY", ""))
        server.mqtt_subs = SubscriptionManager(
            SubscriptionRepository(mq["db_path"] or ":memory:"),
            encryptor=build_encryptor(enc_key or None),
            bridge_factory=lambda sub: MqttIngestBridge(spark, root),
        )
        server.mqtt_subs.start_auto()
    es = cfg["edge_sync"]
    if es["hub_enabled"]:
        from arc_spark.sources.edgesync import HubIndex, HubReceiver

        server.edge_receiver = HubReceiver(
            root, index=HubIndex(es["hub_index_db"] or ":memory:"))
        if es["hub_bundle_import_dirs"]:
            from arc_spark.sources.edgesync_bundle import (
                BundleImporter,
                BundleIndex,
                DestinationPolicy,
                SpokeRegistry,
            )

            server.bundle_registry = SpokeRegistry(
                es["hub_spoke_registry_db"] or ":memory:")
            server.bundle_importer = BundleImporter(
                server.edge_receiver,
                BundleIndex(es["hub_bundle_index_db"] or ":memory:"),
                server.bundle_registry, hub_id=es["hub_id"])
            server.bundle_policy = DestinationPolicy(
                es["hub_bundle_import_dirs"], storage_root=root)
    if es["spoke_enabled"]:
        if not es["spoke_hub_url"]:
            raise ValueError(
                "edge_sync.spoke_enabled requires edge_sync.spoke_hub_url")
        from arc_spark.sources.edgesync import (
            HttpTransport,
            SpokeAgent,
            SyncLedger,
        )

        token = (es["spoke_hub_token"]
                 or os.environ.get("ARC_EDGE_SYNC_SPOKE_TOKEN", ""))
        agent = SpokeAgent(
            root,
            SyncLedger(es["spoke_ledger_db"] or "./edge_ledger.db"),
            HttpTransport(es["spoke_hub_url"], token=token,
                          spoke_id=es["spoke_id"]),
            hub_id=es["spoke_hub_url"],
        )

        def _edge_tick(agent=agent):
            found = agent.discover()
            out = agent.run()
            out["discovered"] = found
            return out

        scheduler.add_job("edge_sync", _edge_tick, es["spoke_interval_s"])
    from arc_spark.session import serial_file_listing

    serial_file_listing(spark, (root, st["cold_path"], st["daily_path"]))
    timeseries = None
    if cfg["metrics"]["timeseries_enabled"]:
        from arc_spark.metrics import TimeSeriesCollector

        timeseries = TimeSeriesCollector(
            server=server, ingest=ingest, catalog=catalog,
            interval_s=cfg["metrics"]["timeseries_interval_s"],
            retention_minutes=cfg["metrics"]["timeseries_retention_minutes"],
        ).start()
        server.timeseries = timeseries
    return {
        "server": server, "spark": spark, "catalog": catalog,
        "query": query, "ingest": ingest, "scheduler": scheduler,
        "auth": auth, "audit": audit, "breaker": breaker,
        "reconciler": reconciler, "timeseries": timeseries, "rbac": rbac,
    }


def shutdown(engine: dict) -> None:
    """Graceful teardown (reference internal/shutdown/ ordering): stop the
    listener (in-flight requests finish), stop scheduled jobs, drain +
    close ingest (flush buffers, seal WAL), close the audit writer. Safe
    to call twice."""
    server = engine.get("server")
    if server is not None:
        try:
            server.stop()
        except Exception:
            pass
        subs = getattr(server, "mqtt_subs", None)
        if subs is not None:
            try:
                subs.shutdown()  # stop running broker subscribers
            except Exception:
                pass
    ts = engine.get("timeseries")
    if ts is not None:
        try:
            ts.stop()
        except Exception:
            pass
    scheduler = engine.get("scheduler")
    if scheduler is not None:
        try:
            scheduler.stop()
        except Exception:
            pass
    ingest = engine.get("ingest")
    if ingest is not None:
        try:
            ingest.close()
        except Exception:
            pass
    audit = engine.get("audit")
    if audit is not None:
        try:
            audit.stop()
        except Exception:
            pass
