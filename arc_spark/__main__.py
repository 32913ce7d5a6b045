"""Process entrypoint: ``python -m arc_spark serve [-c arc.toml]``.

Reference: cmd/arc/main.go (config → wired server → signal-driven
graceful shutdown, internal/shutdown/). The serve loop blocks until
SIGTERM/SIGINT, then tears down in order: HTTP listener → scheduler →
ingest drain (flush + WAL seal) → audit writer.

Other subcommands:
- ``check-config [-c arc.toml]`` — load + validate, print the effective
  config as JSON (the reference's config validation path).
- ``maintain [-c arc.toml] [--jobs compaction,retention,export]`` — run
  lifecycle maintenance ONCE as a SEPARATE process and exit. This is the
  reference's out-of-process compaction (internal/compaction/subprocess.go
  + Raft RegisterFile ordering): safe to run against a live ``serve`` on
  the same root because snapshot commits are version-CAS — concurrent
  committers retry, nothing is lost (tests/test_snapshots.py
  TestMultiProcessCommit).
- ``export [-c arc.toml] [--format delta|iceberg|tree|both] [--db X]
  [--measurement Y] [--dest DIR]`` — one-shot external-reader export
  (CLI twin of POST /api/v1/export); metadata-plane only, no Spark
  session is booted.
"""

from __future__ import annotations

import argparse
import json
import signal
import sys
import threading


def _serve(args) -> int:
    from arc_spark.config import build_engine, load_config, shutdown

    # handlers FIRST: a SIGTERM during (or right after) boot must take the
    # graceful path, not the default kill
    done = threading.Event()

    def _on_signal(signum, frame):
        print(f"signal {signum}: shutting down", flush=True)
        done.set()

    signal.signal(signal.SIGTERM, _on_signal)
    signal.signal(signal.SIGINT, _on_signal)

    cfg = load_config(args.config)
    mt = cfg["maintenance"]
    if mt["cleanup_spark_temp_on_boot"]:
        # crashed-run temp sweep BEFORE the session boots (the reference
        # sweeps DuckDB spill files before opening the database)
        from arc_spark.session import cleanup_orphaned_spark_temp

        swept = cleanup_orphaned_spark_temp(
            min_age_s=mt["spark_temp_max_age_hours"] * 3600)
        if swept:
            print(f"swept {swept} orphaned Spark temp dirs", flush=True)
    engine = build_engine(cfg)
    server = engine["server"]

    # WAL crash recovery before traffic is expected (reference boots
    # recovery before marking ready)
    ingest = engine["ingest"]
    if ingest is not None and ingest.wal is not None:
        recovered = ingest.recover()
        if recovered:
            print(f"recovered {recovered} rows from WAL", flush=True)
    engine["scheduler"].start()
    server.start()
    scheme = "https" if server.tls else "http"
    print(f"arc_spark serving on {scheme}://{cfg['server']['host']}:"
          f"{server.port} (root={cfg['storage']['local_path']})", flush=True)
    done.wait()
    shutdown(engine)
    print("shutdown complete", flush=True)
    return 0


def _check_config(args) -> int:
    from arc_spark.config import load_config, parse_decimal_columns, parse_sort_keys

    cfg = load_config(args.config)
    parse_decimal_columns(cfg["ingest"]["decimal_columns"])  # validate
    parse_sort_keys(cfg["ingest"]["sort_keys"])
    # never print credentials (the reference redacts secrets from config
    # dumps for the same reason)
    redacted = json.loads(json.dumps(cfg, default=str))
    for section in redacted.values():
        if isinstance(section, dict):
            for k in section:
                if (any(s in k for s in ("secret", "token", "_key",
                                         "password"))
                        and section[k]):
                    section[k] = "***"
    json.dump(redacted, sys.stdout, indent=2)
    print()
    return 0


def _maintain(args) -> int:
    """One-shot out-of-process lifecycle pass: compaction / retention /
    export / reconciliation over every measurement under the configured
    root, thresholds from config, then exit. Output: one JSON line."""
    from arc_spark.config import load_config, resolve_storage_root
    from arc_spark.session import get_spark
    from arc_spark.storage import backend_for

    cfg = load_config(args.config)
    jobs = [j.strip() for j in (args.jobs or
                                "compaction,retention").split(",")
            if j.strip()]
    bad = set(jobs) - {"compaction", "retention", "export", "reconcile"}
    if bad:
        print(f"unknown jobs: {sorted(bad)}", file=sys.stderr)
        return 2
    root = resolve_storage_root(cfg["storage"])
    bk = backend_for(root)
    sp = cfg["spark"]
    spark = get_spark(cpus=sp["cpus"] or None,
                      shuffle_partitions=sp["shuffle_partitions"] or None)
    out: dict = {"root": root, "jobs": {}}
    measurements = []
    if bk.isdir(root):
        for db in bk.list_dirs(root):
            for meas in bk.list_dirs(bk.join(root, db)):
                measurements.append((db, meas))
    if "compaction" in jobs:
        from arc_spark.operators.compaction import compact_measurement

        comp = cfg["compaction"]
        done = []
        for db, meas in measurements:
            done.extend(compact_measurement(
                spark, root, db, meas,
                min_files=comp["min_files"],
                min_age_seconds=comp["min_age_hours"] * 3600,
                max_files_per_batch=comp["max_files_per_batch"]))
        out["jobs"]["compaction"] = {"partitions": len(done)}
    if "retention" in jobs:
        from arc_spark.operators.lifecycle import apply_retention

        ret = cfg["retention"]
        removed = 0
        if ret["days"] > 0:
            for db, meas in measurements:
                removed += len(apply_retention(
                    root, db, meas, retention_days=ret["days"],
                    buffer_days=ret["buffer_days"]))
        out["jobs"]["retention"] = {"removed": removed,
                                    "days": ret["days"]}
    if "export" in jobs:
        from arc_spark.operators.export import export_delta_log, export_tree
        from arc_spark.operators.iceberg_export import export_iceberg

        exp = cfg["export"]
        fmt = exp.get("format", "delta")
        if fmt not in ("delta", "iceberg", "both"):
            print(f"[export] format must be delta|iceberg|both, got "
                  f"{fmt!r}", file=sys.stderr)
            return 2
        commits = 0
        for db, meas in measurements:
            mp = bk.join(root, db, meas)
            changed = False
            if fmt in ("delta", "both"):
                if exp["dest_path"]:
                    dbk = backend_for(exp["dest_path"])
                    r = export_tree(
                        mp, dbk.join(exp["dest_path"], db, meas),
                        bk=bk, table_name=f"{db}.{meas}")
                else:
                    r = export_delta_log(mp, bk=bk,
                                         table_name=f"{db}.{meas}")
                changed |= bool(r["added"] or r["removed"])
            if fmt in ("iceberg", "both"):
                r = export_iceberg(
                    mp, bk=bk, table_name=f"{db}.{meas}",
                    retain=exp.get("retain_snapshots", 10))
                changed |= bool(r["changed"])
            commits += 1 if changed else 0
        out["jobs"]["export"] = {"measurements": len(measurements),
                                 "commits": commits, "format": fmt}
    if "reconcile" in jobs:
        from arc_spark.operators.reconciliation import Reconciler

        rec = cfg["reconciliation"]
        r = Reconciler(
            root,
            grace_window_s=rec["grace_window_s"],
            max_deletions=rec["max_deletions"],
            delete_stray_data=rec["delete_stray_data"],
        ).reconcile(dry_run=False)
        out["jobs"]["reconcile"] = r
    json.dump(out, sys.stdout)
    print()
    return 0


def _export(args) -> int:
    """One-shot external-reader export and exit (reference
    internal/iceberg on-demand export, CLI twin of POST /api/v1/export).

    Metadata-plane only — resolves the committed snapshot and writes the
    Delta log / Iceberg v2 metadata / committed-only tree; no Spark
    session is booted. ``--format`` overrides ``[export] format`` from
    config; ``--db``/``--measurement`` scope the sweep (default: every
    measurement under the storage root)."""
    from arc_spark.catalog import validate_identifier
    from arc_spark.config import load_config, resolve_storage_root
    from arc_spark.storage import backend_for

    cfg = load_config(args.config)
    exp_cfg = cfg["export"]
    fmt = args.format or exp_cfg.get("format", "delta")
    if fmt not in ("delta", "iceberg", "tree", "both"):
        print(f"format must be delta|iceberg|tree|both, got {fmt!r}",
              file=sys.stderr)
        return 2
    dest = args.dest or exp_cfg.get("dest_path") or None
    if fmt == "tree" and not dest:
        print("tree export needs --dest (or [export] dest_path)",
              file=sys.stderr)
        return 2
    root = resolve_storage_root(cfg["storage"])
    bk = backend_for(root)
    if args.db:
        validate_identifier(args.db, "database")
    if args.measurement:
        validate_identifier(args.measurement, "measurement")
    measurements = []
    if bk.isdir(root):
        for db in bk.list_dirs(root):
            if args.db and db != args.db:
                continue
            for meas in bk.list_dirs(bk.join(root, db)):
                if args.measurement and meas != args.measurement:
                    continue
                measurements.append((db, meas))
    if (args.db or args.measurement) and not measurements:
        print(f"no measurement matches db={args.db!r} "
              f"measurement={args.measurement!r}", file=sys.stderr)
        return 2
    results = []
    for db, meas in measurements:
        mp = bk.join(root, db, meas)
        row: dict = {"db": db, "measurement": meas, "format": fmt}
        if fmt == "tree":
            from arc_spark.operators.export import export_tree

            dbk = backend_for(dest)
            row["tree"] = export_tree(mp, dbk.join(dest, db, meas),
                                      bk=bk, table_name=f"{db}.{meas}")
        if fmt in ("delta", "both"):
            from arc_spark.operators.export import export_delta_log

            row["delta"] = export_delta_log(mp, bk=bk,
                                            table_name=f"{db}.{meas}")
        if fmt in ("iceberg", "both"):
            from arc_spark.operators.iceberg_export import export_iceberg

            row["iceberg"] = export_iceberg(
                mp, bk=bk, table_name=f"{db}.{meas}",
                retain=exp_cfg.get("retain_snapshots", 10))
        results.append(row)
    json.dump({"root": root, "format": fmt, "exported": results},
              sys.stdout)
    print()
    return 0


def _bundle(args) -> int:
    """Air-gap spoke operations (reference edgesync exporter/ack CLI
    surface): ``bundle export --dest DIR`` writes pending ledger entries
    to removable media; ``bundle ack BUNDLE_DIR`` applies the hub's
    signed acknowledgment when the drive rides back; ``bundle revert
    BUNDLE_ID`` returns a lost drive's entries to pending."""
    import os

    from arc_spark.config import load_config, resolve_storage_root
    from arc_spark.sources.edgesync import SyncLedger
    from arc_spark.sources.edgesync_bundle import BundleExporter

    cfg = load_config(args.config)
    es = cfg["edge_sync"]
    secret = es["spoke_secret"] or os.environ.get(
        "ARC_EDGE_SYNC_SPOKE_SECRET", "")
    if not secret:
        print("bundle operations need edge_sync.spoke_secret "
              "(or ARC_EDGE_SYNC_SPOKE_SECRET)", file=sys.stderr)
        return 2
    root = resolve_storage_root(cfg["storage"])
    ledger = SyncLedger(es["spoke_ledger_db"] or "./edge_ledger.db")
    exp = BundleExporter(root, ledger, spoke_id=es["spoke_id"],
                         hub_id=es["spoke_hub_id"], secret=secret)
    if args.action == "export":
        if not args.dest:
            print("bundle export needs --dest", file=sys.stderr)
            return 2
        out = exp.export(args.dest, limit=args.limit)
    elif args.action == "ack":
        out = exp.apply_ack(args.bundle)
    else:  # revert
        out = {"reverted": exp.revert(args.bundle)}
    json.dump(out, sys.stdout)
    print()
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="python -m arc_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)
    for name, fn in (("serve", _serve), ("check-config", _check_config),
                     ("maintain", _maintain), ("export", _export),
                     ("bundle", _bundle)):
        p = sub.add_parser(name)
        p.add_argument("-c", "--config", default=None,
                       help="path to arc.toml-equivalent config file")
        if name == "export":
            p.add_argument("--format", default=None,
                           choices=["delta", "iceberg", "tree", "both"],
                           help="override [export] format from config")
            p.add_argument("--db", default=None,
                           help="limit to one database")
            p.add_argument("--measurement", default=None,
                           help="limit to one measurement")
            p.add_argument("--dest", default=None,
                           help="destination directory (tree format)")
        if name == "maintain":
            p.add_argument(
                "--jobs", default=None,
                help="comma list: compaction,retention,export,reconcile "
                     "(default compaction,retention)")
        if name == "bundle":
            p.add_argument("action", choices=["export", "ack", "revert"])
            p.add_argument("bundle", nargs="?", default=None,
                           help="bundle dir (ack) / bundle id (revert)")
            p.add_argument("--dest", default=None,
                           help="export destination directory")
            p.add_argument("--limit", type=int, default=0,
                           help="max files per bundle (0 = all pending)")
        p.set_defaults(fn=fn)
    args = ap.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
