"""Audit trail, throttle/debounce, circuit breaker, and storage
reconciliation (reference internal/audit, internal/throttle,
internal/circuitbreaker, internal/reconciliation) — unit + live-HTTP e2e."""

from __future__ import annotations

import json
import time
import urllib.error
import urllib.request

import pytest

from arc_spark.audit import AuditLogger, classify_event
from arc_spark.operators.reconciliation import Reconciler
from arc_spark.resilience import (
    CircuitBreaker,
    CircuitOpenError,
    Debouncer,
    TooManyProbesError,
)


# ---------------------------------------------------------------- throttle
class TestDebouncer:
    def test_first_call_fires(self):
        # throttle.go: the never-fired sentinel must let the FIRST call
        # through even though monotonic elapsed is tiny
        d = Debouncer(3600.0)
        assert d.try_acquire() is True
        assert d.try_acquire() is False

    def test_interval_elapses(self):
        d = Debouncer(0.05)
        assert d.try_acquire()
        assert not d.try_acquire()
        time.sleep(0.06)
        assert d.try_acquire()

    def test_remaining(self):
        d = Debouncer(10.0)
        assert d.remaining() == 0.0  # eligible before first fire
        d.try_acquire()
        assert 0.0 < d.remaining() <= 10.0

    def test_non_positive_interval_clamped(self):
        # throttle.go minInterval: degenerate interval is clamped, not a crash
        d = Debouncer(0)
        assert d.interval_s > 0
        assert d.try_acquire()

    def test_concurrent_single_winner(self):
        import threading

        d = Debouncer(60.0)
        wins = []
        barrier = threading.Barrier(8)

        def worker():
            barrier.wait()
            if d.try_acquire():
                wins.append(1)

        threads = [threading.Thread(target=worker) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert len(wins) == 1


# ---------------------------------------------------------- circuit breaker
class TestCircuitBreaker:
    def _failing(self):
        raise RuntimeError("boom")

    def test_opens_after_max_failures(self):
        cb = CircuitBreaker(max_failures=3, timeout_s=60)
        for _ in range(3):
            with pytest.raises(RuntimeError):
                cb.execute(self._failing)
        assert cb.state == "open"
        with pytest.raises(CircuitOpenError):
            cb.execute(lambda: 1)

    def test_success_resets_failure_count(self):
        cb = CircuitBreaker(max_failures=3, timeout_s=60)
        for _ in range(2):
            with pytest.raises(RuntimeError):
                cb.execute(self._failing)
        cb.execute(lambda: "ok")
        for _ in range(2):
            with pytest.raises(RuntimeError):
                cb.execute(self._failing)
        assert cb.state == "closed"  # consecutive count was reset

    def test_half_open_recovery(self):
        transitions = []
        cb = CircuitBreaker(
            max_failures=1, timeout_s=0.05, half_open_max_requests=2,
            on_state_change=lambda n, f, t: transitions.append((f, t)))
        with pytest.raises(RuntimeError):
            cb.execute(self._failing)
        assert cb.state == "open"
        time.sleep(0.06)
        assert cb.state == "half-open"
        cb.execute(lambda: 1)
        cb.execute(lambda: 2)  # second success closes
        assert cb.state == "closed"
        assert ("closed", "open") in transitions
        assert ("half-open", "closed") in transitions

    def test_half_open_probe_failure_reopens(self):
        cb = CircuitBreaker(max_failures=1, timeout_s=0.05)
        with pytest.raises(RuntimeError):
            cb.execute(self._failing)
        time.sleep(0.06)
        with pytest.raises(RuntimeError):
            cb.execute(self._failing)
        assert cb.state == "open"

    def test_half_open_probe_quota(self):
        cb = CircuitBreaker(max_failures=1, timeout_s=0.05,
                            half_open_max_requests=1)
        with pytest.raises(RuntimeError):
            cb.execute(self._failing)
        time.sleep(0.06)
        cb.allow()  # first probe slot taken (in flight, no result yet)
        with pytest.raises(TooManyProbesError):
            cb.allow()

    def test_half_open_user_errors_cannot_close(self):
        """record_neutral (r3 advice): USER errors in half-open release
        the probe slot but never count toward closing the circuit — a
        few 400s from one client must not close it while the engine is
        still down."""
        cb = CircuitBreaker(max_failures=1, timeout_s=0.05,
                            half_open_max_requests=2)
        with pytest.raises(RuntimeError):
            cb.execute(self._failing)
        time.sleep(0.06)
        for _ in range(5):  # way past the success quota
            cb.allow()
            cb.record_neutral()
        assert cb.state == "half-open"  # still probing, never closed
        # a real engine success path still closes as before
        cb.execute(lambda: 1)
        cb.execute(lambda: 2)
        assert cb.state == "closed"

    def test_neutral_does_not_reset_closed_failure_count(self):
        cb = CircuitBreaker(max_failures=2, timeout_s=60)
        with pytest.raises(RuntimeError):
            cb.execute(self._failing)
        cb.record_neutral()  # user error interleaved
        with pytest.raises(RuntimeError):
            cb.execute(self._failing)
        assert cb.state == "open"  # 2 consecutive engine failures tripped it

    def test_stats(self):
        cb = CircuitBreaker(max_failures=1, timeout_s=60)
        with pytest.raises(RuntimeError):
            cb.execute(self._failing)
        with pytest.raises(CircuitOpenError):
            cb.execute(lambda: 1)
        s = cb.stats()
        assert s["state"] == "open"
        assert s["total_failures"] == 1 and s["total_rejected"] == 1


# ------------------------------------------------------------------- audit
class TestAuditLogger:
    def test_classify(self):
        # middleware.go classifyEvent
        assert classify_event("POST", "/api/v1/query", 200) == "query.executed"
        assert classify_event("POST", "/api/v1/query", 401) == "auth.failed"
        assert classify_event("POST", "/api/v1/auth/tokens", 200) == "token.created"
        assert classify_event("POST", "/api/v1/auth/tokens/x/rotate", 200) == "token.rotated"
        assert classify_event("DELETE", "/api/v1/auth/tokens/x", 200) == "token.deleted"
        assert classify_event("POST", "/api/v1/write/msgpack", 200) == "data.write"
        assert classify_event("POST", "/api/v1/import/csv", 200) == "data.write"
        assert classify_event("POST", "/api/v1/delete", 200) == "data.delete"
        assert classify_event("POST", "/api/v1/retention", 200) == "retention.executed"
        assert classify_event("GET", "/api/v1/query/cpu", 200) == "query.executed"

    def test_record_query_roundtrip(self, tmp_path):
        log = AuditLogger(str(tmp_path / "audit.db"))
        log.record_request("POST", "/api/v1/query", 200, actor="alice",
                           database="metrics", duration_ms=12)
        log.record_request("POST", "/api/v1/query", 403, actor="bob")
        log.flush()
        entries = log.query()
        assert len(entries) == 2
        by_actor = {e["actor"]: e for e in entries}
        assert by_actor["alice"]["event_type"] == "query.executed"
        assert by_actor["alice"]["database_name"] == "metrics"
        assert by_actor["bob"]["event_type"] == "auth.failed"
        # filters
        assert len(log.query(actor="alice")) == 1
        assert len(log.query(event_type="auth.failed")) == 1
        assert len(log.query(database="metrics")) == 1
        assert log.stats() == {"query.executed": 1, "auth.failed": 1}
        log.stop()

    def test_excluded_paths_and_reads(self, tmp_path):
        log = AuditLogger(str(tmp_path / "a.db"), include_reads=False)
        log.record_request("GET", "/health", 200)
        log.record_request("GET", "/metrics", 200)
        log.record_request("GET", "/api/v1/databases", 200)  # read, excluded
        log.record_request("POST", "/api/v1/query", 200)
        log.flush()
        assert len(log.query()) == 1
        log.stop()
        log2 = AuditLogger(str(tmp_path / "b.db"), include_reads=True)
        log2.record_request("GET", "/api/v1/databases", 200)
        log2.flush()
        assert len(log2.query()) == 1
        log2.stop()

    def test_retention_cleanup(self, tmp_path):
        log = AuditLogger(str(tmp_path / "a.db"), retention_days=30)
        log.log_event({"event_type": "query.executed", "method": "POST",
                       "path": "/api/v1/query",
                       "timestamp": time.time() - 40 * 86400})
        log.log_event({"event_type": "query.executed", "method": "POST",
                       "path": "/api/v1/query"})
        log.flush()
        assert len(log.query()) == 2
        deleted = log.cleanup_old_entries()
        assert deleted == 1
        assert len(log.query()) == 1
        log.stop()

    def test_queue_overflow_drops(self, tmp_path):
        log = AuditLogger(str(tmp_path / "a.db"))
        log._stop.set()  # freeze the writer so the queue can fill
        log._writer.join(timeout=5)
        for _ in range(1500):
            log.log_event({"event_type": "x", "method": "POST", "path": "/p"})
        assert log.dropped == 500  # bounded at 1000, rest dropped

    def test_batch_writer_flushes_async(self, tmp_path):
        log = AuditLogger(str(tmp_path / "a.db"), flush_interval_s=0.05)
        log.record_request("POST", "/api/v1/query", 200)
        deadline = time.time() + 5
        while time.time() < deadline and not log.query():
            time.sleep(0.05)
        assert len(log.query()) == 1  # written without an explicit flush
        log.stop()

    def test_shared_db_with_auth(self, tmp_path):
        # the reference shares the auth SQLite file; both schemas coexist
        from arc_spark.auth import AuthStore

        path = str(tmp_path / "shared.db")
        auth = AuthStore(path)
        auth.create_token("admin")
        log = AuditLogger(path)
        log.record_request("POST", "/api/v1/query", 200, actor="admin")
        log.flush()
        assert len(log.query()) == 1
        assert auth.list_tokens()[0]["name"] == "admin"
        log.stop()


# ---------------------------------------------------------- reconciliation
def _mk_measurement(root, db="metrics", meas="cpu"):
    part = root / db / meas / "year=2024" / "month=01" / "day=02" / "hour=03"
    part.mkdir(parents=True)
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"time": [1, 2], "v": [0.1, 0.2]}),
                   part / "part-ok.parquet")
    (root / db / meas / "_arc_manifest.json").write_text(
        json.dumps({"tag_columns": [], "sort_keys": ["time"],
                    "dedup_time": False, "decimals": {}}))
    return root / db / meas


class TestReconciler:
    def test_clean_tree_no_findings(self, tmp_path):
        _mk_measurement(tmp_path)
        rec = Reconciler(str(tmp_path))
        out = rec.reconcile(dry_run=True)
        assert out["found"] == {} and out["deleted"] == 0
        assert out["status"] == "completed"

    def test_classification_and_grace(self, tmp_path):
        mp = _mk_measurement(tmp_path)
        # debris + staging + stray data, all YOUNG (inside grace window)
        (mp / "year=2024" / "_SUCCESS").write_text("")
        (mp / "._arc_manifest.json.tmp-deadbeef").write_text("{}")
        (mp / "loose.parquet").write_text("not really parquet")
        rec = Reconciler(str(tmp_path), grace_window_s=3600)
        out = rec.reconcile(dry_run=False)
        assert out["found"] == {"debris": 1, "staging": 1, "stray_data": 1}
        assert out["deleted"] == 0  # everything inside grace
        assert out["skipped_grace"] >= 2  # stray needs delete_stray_data too
        assert (mp / "year=2024" / "_SUCCESS").exists()

    def test_aged_debris_swept(self, tmp_path):
        import os

        mp = _mk_measurement(tmp_path)
        old = time.time() - 7200
        for name in ("year=2024/_SUCCESS", "._arc_manifest.json.tmp-ff"):
            p = mp / name
            p.write_text("")
            os.utime(p, (old, old))
        rec = Reconciler(str(tmp_path), grace_window_s=3600)
        out = rec.reconcile(dry_run=False)
        assert out["deleted"] == 2
        assert not (mp / "year=2024" / "_SUCCESS").exists()

    def test_stray_data_needs_opt_in(self, tmp_path):
        import os

        mp = _mk_measurement(tmp_path)
        stray = mp / "misplaced.parquet"
        stray.write_text("x")
        old = time.time() - 7200
        os.utime(stray, (old, old))
        out = Reconciler(str(tmp_path), grace_window_s=3600).reconcile(
            dry_run=False)
        assert out["found"]["stray_data"] == 1 and stray.exists()
        out = Reconciler(str(tmp_path), grace_window_s=3600,
                         delete_stray_data=True).reconcile(dry_run=False)
        assert out["deleted"] == 1 and not stray.exists()

    def test_suspect_data_report_only(self, tmp_path):
        import os

        mp = _mk_measurement(tmp_path)
        bad = (mp / "year=2024" / "month=01" / "day=02" / "hour=03"
               / "part-corrupt.parquet")
        bad.write_bytes(b"PAR1 this is not a parquet footer")
        old = time.time() - 7200
        os.utime(bad, (old, old))
        out = Reconciler(str(tmp_path), grace_window_s=0,
                         delete_stray_data=True).reconcile(dry_run=False)
        assert out["found"]["suspect_data"] == 1
        assert bad.exists()  # never auto-deleted in-layout

    def test_staged_ingest_payloads_swept(self, tmp_path):
        """Crash-leaked .lp-staging/.raw-staging payload files (r3 advice:
        dot-dirs are invisible to the db walk) are swept once aged."""
        import os

        _mk_measurement(tmp_path)
        old = time.time() - 7200
        aged, young = [], []
        for d in (".lp-staging", ".raw-staging"):
            sdir = tmp_path / d
            sdir.mkdir()
            a = sdir / "deadbeef.bin"
            a.write_bytes(b"x" * 64)
            os.utime(a, (old, old))
            aged.append(a)
            y = sdir / "fresh.bin"  # mid-job: inside grace, protected
            y.write_bytes(b"y")
            young.append(y)
        out = Reconciler(str(tmp_path), grace_window_s=3600).reconcile(
            dry_run=False)
        assert out["found"]["staging"] == 4
        assert out["deleted"] == 2
        assert all(not p.exists() for p in aged)
        assert all(p.exists() for p in young)

    def test_dry_run_touches_nothing(self, tmp_path):
        import os

        mp = _mk_measurement(tmp_path)
        p = mp / "year=2024" / "_SUCCESS"
        p.write_text("")
        os.utime(p, (1, 1))
        out = Reconciler(str(tmp_path), grace_window_s=1).reconcile(
            dry_run=True)
        assert out["found"]["debris"] == 1 and out["deleted"] == 0
        assert p.exists()

    def test_deletion_cap(self, tmp_path):
        import os

        mp = _mk_measurement(tmp_path)
        old = time.time() - 7200
        for i in range(5):
            p = mp / "year=2024" / f"junk{i}.crc"
            p.write_text("")
            os.utime(p, (old, old))
        out = Reconciler(str(tmp_path), grace_window_s=3600,
                         max_deletions=2).reconcile(dry_run=False)
        assert out["deleted"] == 2 and out["capped"] is True

    def test_crashed_compaction_recovered(self, tmp_path, spark):
        # leftover tmp dir + job manifest → recover_incomplete is invoked
        mp = _mk_measurement(tmp_path)
        part = mp / "year=2024" / "month=01" / "day=02" / "hour=03"
        tmp_dir = str(part) + ".compact-tmp-abc12345"
        import os

        os.makedirs(tmp_dir)
        (part.parent / (part.name + ".compact-manifest.json")).write_text(
            json.dumps({"inputs": [], "tmp_dir": tmp_dir,
                        "partition": str(part)}))
        out = Reconciler(str(tmp_path)).reconcile(dry_run=False)
        assert out["found"]["job_state"] >= 1
        assert not os.path.exists(tmp_dir)
        # canonical data survived
        assert (part / "part-ok.parquet").exists()

    def test_daily_tier_layout_is_valid(self, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        day = tmp_path / "metrics" / "cpu_daily" / "year=2024" / "month=01" / "day=02"
        day.mkdir(parents=True)
        pq.write_table(pa.table({"time": [1]}), day / "day.parquet")
        out = Reconciler(str(tmp_path)).reconcile(dry_run=True)
        assert "stray_data" not in out["found"]

    def test_history_and_running_guard(self, tmp_path):
        _mk_measurement(tmp_path)
        rec = Reconciler(str(tmp_path))
        rec.reconcile(dry_run=True)
        rec.reconcile(dry_run=True)
        runs = rec.recent_runs()
        assert len(runs) == 2 and runs[0]["status"] == "completed"
        assert rec.is_running() is False


# ------------------------------------------------------------- HTTP e2e
def _req(port, path, method="GET", token=None, body=None):
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}{path}", data=body, method=method)
    if token:
        req.add_header("Authorization", f"Bearer {token}")
    with urllib.request.urlopen(req, timeout=60) as resp:
        return resp.status, resp.read(), dict(resp.headers)


@pytest.fixture()
def live_audited(spark, tmp_path):
    from arc_spark.api import IngestService, QueryService
    from arc_spark.auth import AuthStore
    from arc_spark.catalog import MeasurementCatalog
    from arc_spark.server import ArcServer

    root = str(tmp_path / "data")
    ingest = IngestService(spark, root, max_buffer_rows=10**9,
                           max_buffer_age_s=10**9)
    ingest.write_line_protocol(
        "metrics", b"cpu,host=a usage=0.5 1700000000000000000\n")
    ingest.flush()
    cat = MeasurementCatalog(spark, root)
    svc = QueryService(spark, cat)
    svc.register_measurement("metrics", "cpu", view="cpu")
    auth = AuthStore(str(tmp_path / "auth.db"))
    admin = auth.create_token("admin")
    limited = auth.create_token("limited", allowed_tables=["other"])
    audit = AuditLogger(str(tmp_path / "auth.db"), include_reads=False)
    breaker = CircuitBreaker(name="engine", max_failures=2, timeout_s=60)
    rec = Reconciler(root)
    server = ArcServer(svc, ingest, auth, audit=audit, breaker=breaker,
                       reconciler=rec).start()
    try:
        yield server.port, admin, limited
    finally:
        server.stop()
        audit.stop()


class TestHttpAuditBreaker:
    def test_query_audited_with_actor(self, live_audited):
        port, admin, _ = live_audited
        _req(port, "/api/v1/query", "POST", admin,
             json.dumps({"sql": "SELECT host FROM cpu"}).encode())
        status, body, _ = _req(port, "/api/v1/audit?event_type=query.executed",
                               token=admin)
        assert status == 200
        entries = json.loads(body)["entries"]
        assert entries and entries[0]["actor"] == "admin"
        assert entries[0]["method"] == "POST"
        assert entries[0]["duration_ms"] >= 0

    def test_auth_failure_audited(self, live_audited):
        port, admin, _ = live_audited
        with pytest.raises(urllib.error.HTTPError) as e:
            _req(port, "/api/v1/query", "POST", "wrong-token",
                 json.dumps({"sql": "SELECT 1"}).encode())
        assert e.value.code == 401
        status, body, _ = _req(port, "/api/v1/audit?event_type=auth.failed",
                               token=admin)
        entries = json.loads(body)["entries"]
        assert entries and entries[0]["actor"] == "anonymous"

    def test_audit_routes_admin_only(self, live_audited):
        port, _, limited = live_audited
        with pytest.raises(urllib.error.HTTPError) as e:
            _req(port, "/api/v1/audit", token=limited)
        assert e.value.code == 403
        # and the denial itself lands in the trail as auth.failed...
        # (audit route is excluded from auditing; the 403 on it is not
        # recorded — matches the reference's excluded-path list)

    def test_audit_stats_route(self, live_audited):
        port, admin, _ = live_audited
        _req(port, "/api/v1/query", "POST", admin,
             json.dumps({"sql": "SELECT 1"}).encode())
        status, body, _ = _req(port, "/api/v1/audit/stats", token=admin)
        assert status == 200
        assert json.loads(body)["stats"].get("query.executed", 0) >= 1

    def test_breaker_opens_on_engine_errors_not_user_errors(
            self, live_audited, tmp_path):
        port, admin, _ = live_audited
        # user error (validation, 400) twice: breaker must stay closed
        for _ in range(2):
            with pytest.raises(urllib.error.HTTPError) as e:
                _req(port, "/api/v1/query", "POST", admin,
                     json.dumps({"sql": "DROP TABLE cpu"}).encode())
            assert e.value.code == 400
        status, body, _ = _req(port, "/api/v1/breaker", token=admin)
        assert json.loads(body)["state"] == "closed"
        # so is a table Spark's analyzer cannot find (400)
        with pytest.raises(urllib.error.HTTPError) as e:
            _req(port, "/api/v1/query", "POST", admin,
                 json.dumps({"sql": "SELECT * FROM nope_missing"}).encode())
        assert e.value.code == 400
        status, body, _ = _req(port, "/api/v1/breaker", token=admin)
        assert json.loads(body)["state"] == "closed"
        # engine errors trip it: committed files deleted out of band fail
        # the read
        for f in (tmp_path / "data" / "metrics" / "cpu").rglob("*.parquet"):
            f.unlink()
        for _ in range(2):
            with pytest.raises(urllib.error.HTTPError) as e:
                _req(port, "/api/v1/query", "POST", admin,
                     json.dumps({"sql": "SELECT * FROM cpu WHERE usage > 0"})
                     .encode())
            assert e.value.code == 500
        status, body, _ = _req(port, "/api/v1/breaker", token=admin)
        assert json.loads(body)["state"] == "open"
        with pytest.raises(urllib.error.HTTPError) as e:
            _req(port, "/api/v1/query", "POST", admin,
                 json.dumps({"sql": "SELECT host FROM cpu"}).encode())
        assert e.value.code == 503
        assert int(e.value.headers["Retry-After"]) >= 1

    def test_memtrim_throttled(self, live_audited):
        port, admin, _ = live_audited
        status, _, _ = _req(port, "/api/v1/metrics/memory/trim", "POST", admin)
        assert status == 200
        with pytest.raises(urllib.error.HTTPError) as e:
            _req(port, "/api/v1/metrics/memory/trim", "POST", admin)
        assert e.value.code == 429
        assert int(e.value.headers["Retry-After"]) >= 1

    def test_reconcile_routes(self, live_audited):
        port, admin, _ = live_audited
        status, body, _ = _req(port, "/api/v1/reconcile", "POST", admin)
        assert status == 200
        out = json.loads(body)
        assert out["dry_run"] is True and out["status"] == "completed"
        status, body, _ = _req(port, "/api/v1/reconcile?dry_run=false",
                               "POST", admin)
        assert json.loads(body)["dry_run"] is False
        status, body, _ = _req(port, "/api/v1/reconcile/runs", token=admin)
        assert len(json.loads(body)["runs"]) == 2


def test_reconciler_audit_trail(tmp_path):
    """Runs land in the audit trail like the reference's emitAudit."""
    from arc_spark.audit import AuditLogger
    from arc_spark.operators.reconciliation import Reconciler

    log = AuditLogger(str(tmp_path / "a.db"))
    _mk_measurement(tmp_path)
    rec = Reconciler(str(tmp_path), audit=log)
    rec.reconcile(dry_run=True)
    log.flush()
    entries = log.query(event_type="reconcile.completed")
    assert len(entries) == 1
    detail = json.loads(entries[0]["detail"])
    assert detail["dry_run"] is True and detail["deleted"] == 0
    log.stop()
