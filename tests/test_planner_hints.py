"""Planner size hints read Spark byte-size settings exactly or refuse."""

from __future__ import annotations

import pytest

from arc_spark.workload import _broadcast_threshold_bytes, _parse_bytes


@pytest.mark.parametrize("raw, want", [
    ("10485760", 10 << 20),
    ("10485760b", 10 << 20),
    ("10mb", 10 << 20),
    ("10M", 10 << 20),
    ("64k", 64 << 10),
    ("2g", 2 << 30),
    ("1t", 1 << 40),
    ("1tb", 1 << 40),
    ("3p", 3 << 50),
    ("2PB", 2 << 50),
    (" 1t ", 1 << 40),
    ("-1", -1),
])
def test_parse_bytes(raw, want):
    assert _parse_bytes(raw) == want


@pytest.mark.parametrize("raw", [
    "garbage", "", "mb", "1.5g", "1x", "10 mb", "--1", "1e9",
])
def test_parse_bytes_refuses(raw):
    with pytest.raises(ValueError):
        _parse_bytes(raw)


class _Conf:
    def __init__(self, value):
        self.value = value

    def get(self, key, default=None):
        assert key == "spark.sql.autoBroadcastJoinThreshold"
        return self.value


class _Session:
    def __init__(self, value):
        self.conf = _Conf(value)


def test_broadcast_threshold_reads_terabytes():
    assert _broadcast_threshold_bytes(_Session("1t")) == 1 << 40


def test_broadcast_threshold_refuses_garbage():
    with pytest.raises(ValueError):
        _broadcast_threshold_bytes(_Session("lots"))


def test_broadcast_threshold_of_the_session(spark):
    assert _broadcast_threshold_bytes(spark) == _parse_bytes(
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
