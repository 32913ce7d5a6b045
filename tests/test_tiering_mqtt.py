"""Hot→cold tiering migration (A35) and MQTT ingest bridge (A34)."""

from __future__ import annotations

import datetime as dt
import os

import pytest

from arc_spark.catalog import MeasurementCatalog
from arc_spark.operators.tiering import migrate_to_cold, tier_report
from arc_spark.sources.ingest import columnar_to_dataframe, rows_to_columnar
from arc_spark.sources.mqtt import MqttIngestBridge, MqttSubscription
from arc_spark.sources.writer import write_measurement


def _write_days(spark, root, days, db="metrics"):
    rows = []
    for day in days:
        rows.append({
            "m": "cpu",
            "t": int(dt.datetime(2024, 3, day, 6).timestamp() * 1e6),
            "tags": {"host": "a"},
            "fields": {"value": float(day)},
        })
    df = columnar_to_dataframe(spark, rows_to_columnar(rows))
    write_measurement(df, root, db, "cpu", tag_columns=["host"])


class TestTiering:
    def test_migrate_and_union_read(self, spark, tmp_path):
        hot, cold = str(tmp_path / "hot"), str(tmp_path / "cold")
        _write_days(spark, hot, [1, 2, 20])
        moved = migrate_to_cold(
            hot, cold, "metrics", "cpu",
            older_than_days=10, now=dt.datetime(2024, 3, 21),
        )
        assert len(moved) == 2  # days 1, 2
        rep = tier_report(hot, cold, "metrics", "cpu")
        assert len(rep["cold_only"]) == 2 and len(rep["hot_only"]) == 1
        assert rep["both"] == []
        # catalog union read sees all three days
        cat = MeasurementCatalog(spark, hot, cold_root=cold)
        assert cat.table("metrics", "cpu").count() == 3

    def test_rerun_is_idempotent(self, spark, tmp_path):
        hot, cold = str(tmp_path / "h2"), str(tmp_path / "c2")
        _write_days(spark, hot, [1, 20])
        kw = dict(older_than_days=10, now=dt.datetime(2024, 3, 21))
        assert len(migrate_to_cold(hot, cold, "metrics", "cpu", **kw)) == 1
        assert migrate_to_cold(hot, cold, "metrics", "cpu", **kw) == []


    def test_migrates_only_committed_files(self, spark, tmp_path):
        """The cold snapshot gains the copies of the hot snapshot's files
        only: an uncommitted hot orphan (a crashed flush's file) must not
        become visible on the cold tier (it used to: 2 files, 15 rows)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from arc_spark import snapshots
        from arc_spark.sources.writer import write_measurement_arrow

        hot, cold = str(tmp_path / "hot"), str(tmp_path / "cold")

        def table(n, minute):
            return pa.table({
                "time": pa.array(
                    [dt.datetime(2024, 3, 1, 6, minute, i) for i in range(n)],
                    pa.timestamp("us")),
                "host": ["a"] * n, "value": [float(i) for i in range(n)]})

        write_measurement_arrow(table(10, 0), hot, "metrics", "cpu",
                                tag_columns=["host"])
        write_measurement_arrow(table(5, 30), hot, "metrics", "cpu",
                                tag_columns=["host"], manifest=False)
        moved = migrate_to_cold(hot, cold, "metrics", "cpu",
                                older_than_days=10,
                                now=dt.datetime(2024, 3, 21))
        assert moved == ["year=2024/month=3/day=1"]
        cold_files = snapshots.data_files(os.path.join(cold, "metrics", "cpu"))
        assert len(cold_files) == 1
        assert sum(pq.ParquetFile(f).metadata.num_rows
                   for f in cold_files) == 10
        assert snapshots.data_files(os.path.join(hot, "metrics", "cpu")) == []
        cat = MeasurementCatalog(spark, hot, cold_root=cold)
        assert cat.table("metrics", "cpu").count() == 10


class TestTieringPolicies:
    def test_store_crud_and_effective(self, tmp_path):
        from arc_spark.operators.tiering import TieringPolicyStore

        st = TieringPolicyStore(str(tmp_path / "pol.db"))
        assert st.list() == []
        assert st.effective("anydb", 30) == {
            "database": "anydb", "hot_only": False,
            "hot_max_age_days": 30, "source": "default"}
        st.set("metrics", hot_max_age_days=3)
        st.set("archive", hot_only=True)
        assert st.effective("metrics", 30)["hot_max_age_days"] == 3
        assert st.effective("archive", 30)["hot_only"] is True
        # custom hot_only with inherited age
        assert st.effective("archive", 30)["hot_max_age_days"] == 30
        assert len(st.list()) == 2
        assert st.delete("archive") and not st.delete("archive")
        assert st.effective("archive", 30)["source"] == "default"
        # persisted across instances
        st2 = TieringPolicyStore(str(tmp_path / "pol.db"))
        assert st2.get("metrics")["hot_max_age_days"] == 3
        import pytest as _pt
        with _pt.raises(ValueError):
            st.set("x", hot_max_age_days=0)
        with _pt.raises(ValueError):
            st.set("../evil")

    def test_migrate_all_honors_policies(self, spark, tmp_path):
        from arc_spark.operators.tiering import (
            TieringPolicyStore,
            migrate_all,
        )

        hot, cold = str(tmp_path / "h3"), str(tmp_path / "c3")
        _write_days(spark, hot, [1, 2, 20])           # metrics.cpu
        _write_days(spark, hot, [1, 20], db="frozen")  # frozen.cpu
        st = TieringPolicyStore()
        st.set("frozen", hot_only=True)
        out = migrate_all(hot, cold, st, default_days=10,
                          now=dt.datetime(2024, 3, 21))
        assert out["skipped_hot_only"] == 1
        assert out["migrated_days"] == 2  # metrics days 1, 2 only
        assert "frozen" not in out["databases"]
        # frozen db untouched on disk
        assert not os.path.isdir(os.path.join(cold, "frozen"))

    def test_policy_routes_over_http(self, spark, tmp_path):
        import json as _json
        import urllib.error
        import urllib.request

        from arc_spark.api import IngestService, QueryService
        from arc_spark.auth import AuthStore
        from arc_spark.operators.tiering import TieringPolicyStore
        from arc_spark.server import ArcServer

        root = str(tmp_path / "data")
        auth = AuthStore(str(tmp_path / "a.db"))
        admin = auth.create_token("admin")
        server = ArcServer(
            QueryService(spark, MeasurementCatalog(spark, root)),
            IngestService(spark, root, max_buffer_rows=10**9,
                          max_buffer_age_s=10**9), auth).start()
        server.tiering_policies = TieringPolicyStore()
        server.tiering_default_days = 14
        try:
            def req(path, method="GET", body=None):
                r = urllib.request.Request(
                    f"http://127.0.0.1:{server.port}{path}",
                    data=body, method=method)
                r.add_header("Authorization", f"Bearer {admin}")
                with urllib.request.urlopen(r, timeout=30) as resp:
                    return resp.status, _json.loads(resp.read())

            status, p = req("/api/v1/tiering/policies/metrics", "PUT",
                            _json.dumps({"hot_max_age_days": 5}).encode())
            assert status == 200 and p["hot_max_age_days"] == 5
            _, eff = req("/api/v1/tiering/policies/metrics/effective")
            assert eff == {"database": "metrics", "hot_only": False,
                           "hot_max_age_days": 5, "source": "custom"}
            _, eff2 = req("/api/v1/tiering/policies/other/effective")
            assert eff2["hot_max_age_days"] == 14 \
                and eff2["source"] == "default"
            _, listing = req("/api/v1/tiering/policies")
            assert listing["count"] == 1
            status, _ = req("/api/v1/tiering/policies/metrics", "DELETE")
            assert status == 200
            with pytest.raises(urllib.error.HTTPError) as e:
                req("/api/v1/tiering/policies/metrics")
            assert e.value.code == 404
            with pytest.raises(urllib.error.HTTPError) as e:
                req("/api/v1/tiering/policies/bad", "PUT",
                    _json.dumps({"hot_max_age_days": 0}).encode())
            assert e.value.code == 400
        finally:
            server.stop()

    def test_config_wires_policy_scheduler(self, spark, tmp_path):
        from arc_spark.config import build_engine, load_config, shutdown

        hot, cold = str(tmp_path / "h4"), str(tmp_path / "c4")
        _write_days(spark, hot, [1, 20])
        cfg = load_config(None, env={
            "ARC_STORAGE_LOCAL_PATH": hot,
            "ARC_STORAGE_COLD_PATH": cold,
            "ARC_SERVER_PORT": "0",
            "ARC_TIERING_ENABLED": "true",
            "ARC_TIERING_DEFAULT_HOT_MAX_AGE_DAYS": "10",
            "ARC_METRICS_TIMESERIES_ENABLED": "false",
        })
        engine = build_engine(cfg, spark=spark)
        try:
            assert engine["server"].tiering_policies is not None
            jobs = {j["name"] for j in engine["scheduler"].status()}
            assert "tiering" in jobs
            out = engine["scheduler"].trigger_now("tiering")
            # day 1 is years old vs now -> migrates; day 20 too (2024)
            assert out["migrated_days"] >= 1
        finally:
            shutdown(engine)


class TestMqttBridge:
    def test_line_protocol_routing(self, spark, tmp_path):
        root = str(tmp_path)
        bridge = MqttIngestBridge(spark, root)
        bridge.subscribe(
            MqttSubscription("sensors/+/cpu", "iot", "cpu", "line_protocol")
        )
        lp = b"cpu,host=edge1 usage=0.42 1700000000000000000\n"
        n = bridge.handle_message("sensors/rack1/cpu", lp)
        assert n == 1
        cat = MeasurementCatalog(spark, root)
        rows = cat.table("iot", "cpu").collect()
        assert rows[0]["host"] == "edge1" and rows[0]["usage"] == 0.42

    def test_json_and_topic_filtering(self, spark, tmp_path):
        root = str(tmp_path)
        bridge = MqttIngestBridge(spark, root)
        bridge.subscribe(MqttSubscription("telemetry/#", "iot", "temps", "json"))
        n = bridge.handle_message(
            "telemetry/site1", b'{"time": 1700000000000000, "site": "s1", "temp": 21.5}'
        )
        assert n == 1
        assert bridge.handle_message("other/topic", b"{}") == 0
        assert bridge.stats["messages"] == 2 and bridge.stats["records"] == 1

    def test_bad_payload_counts_error(self, spark, tmp_path):
        bridge = MqttIngestBridge(spark, str(tmp_path))
        bridge.subscribe(MqttSubscription("t/#", "iot", "x", "json"))
        assert bridge.handle_message("t/1", b"not json") == 0
        assert bridge.stats["errors"] == 1

    def test_attach_paho_wiring_with_stub_client(self, spark, tmp_path,
                                                 monkeypatch):
        """Execute attach_paho's REAL code (client build, on_message
        wiring, connect, per-subscription subscribe) against a stub paho
        module — the attach path runs even where no broker exists."""
        import sys
        import types

        calls = {"connect": None, "subscribed": []}

        class _StubClient:
            def __init__(self, **kwargs):
                self.on_message = None

            def connect(self, host, port):
                calls["connect"] = (host, port)

            def subscribe(self, topic):
                calls["subscribed"].append(topic)

        stub_mqtt = types.ModuleType("paho.mqtt.client")
        stub_mqtt.Client = _StubClient
        stub_paho = types.ModuleType("paho")
        stub_paho_mqtt = types.ModuleType("paho.mqtt")
        monkeypatch.setitem(sys.modules, "paho", stub_paho)
        monkeypatch.setitem(sys.modules, "paho.mqtt", stub_paho_mqtt)
        monkeypatch.setitem(sys.modules, "paho.mqtt.client", stub_mqtt)

        bridge = MqttIngestBridge(spark, str(tmp_path))
        bridge.subscribe(
            MqttSubscription("sensors/+/cpu", "iot", "cpu", "line_protocol"))
        client = bridge.attach_paho("broker.local", 1884)
        assert calls["connect"] == ("broker.local", 1884)
        assert calls["subscribed"] == ["sensors/+/cpu"]
        # the wired callback routes through handle_message end-to-end
        msg = types.SimpleNamespace(
            topic="sensors/a/cpu",
            payload=b"cpu,host=a usage=0.5 1700000000000000000\n",
        )
        client.on_message(client, None, msg)
        assert bridge.stats["records"] == 1

    def test_live_broker_smoke(self, spark, tmp_path):
        """Full e2e against a real local MQTT broker — runs only where
        paho-mqtt AND a broker at localhost:1883 are available (CI with a
        mosquitto sidecar); skip-marked otherwise."""
        import socket
        import time

        pytest.importorskip("paho.mqtt.client")
        try:
            socket.create_connection(("127.0.0.1", 1883), timeout=0.5).close()
        except OSError:
            pytest.skip("no MQTT broker on localhost:1883")

        import paho.mqtt.client as mqtt

        bridge = MqttIngestBridge(spark, str(tmp_path))
        bridge.subscribe(
            MqttSubscription("arc-smoke/#", "iot", "cpu", "line_protocol"))
        client = bridge.attach_paho("127.0.0.1", 1883)
        client.loop_start()
        try:
            pub = mqtt.Client()
            pub.connect("127.0.0.1", 1883)
            pub.publish("arc-smoke/t1",
                        b"cpu,host=a usage=0.5 1700000000000000000\n")
            pub.disconnect()
            deadline = time.time() + 10
            while bridge.stats["records"] < 1 and time.time() < deadline:
                time.sleep(0.1)
            assert bridge.stats["records"] >= 1
        finally:
            client.loop_stop()
            client.disconnect()
