"""The native GROUP BY route (``native_agg``): dashboard aggregates over
one measurement's committed files answered by one pyarrow
``group_by().aggregate()``, with no Spark job.

The differential fuzz runs each eligible query on the native route and
on the forced Spark route, in all four wire formats, and requires the
same Arrow schema (names, types, nullability) and the same multiset of
rows. The data holds null keys and values, NaN, ±0.0, timestamps on
hour boundaries, a column missing from some files, and a measurement
spread over the hot and daily tiers. Out-of-grammar shapes must start a
Spark job."""

from __future__ import annotations

import collections
import contextlib
import json
import math
import time
from unittest import mock

import pyarrow as pa
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

import arc_spark.api as api
from arc_spark.api import AccessDeniedError, QueryService
from arc_spark.catalog import MeasurementCatalog
from arc_spark.governance import Governor, TokenPolicy
from arc_spark.sources.msgpack_codec import unpackb
from arc_spark.sources.writer import write_measurement_arrow

_HOUR = 3_600_000_000
_T0 = 1_700_006_400_000_000  # 2023-11-15T00:00:00Z, an hour boundary
_DB = "fz"
_FORMATS = ("rows", "json", "arrow", "msgpack")

_KEYS = ("host", "rack", "flag", "date_trunc('hour', time)",
         "date_trunc('DAY', time)", "date_trunc('minute', time)",
         "date_trunc('week', time)", "date_trunc('month', time)")
_AGGS = ("COUNT(*)", "SUM(v)", "AVG(v)", "MIN(v)", "MAX(v)", "MIN(n)",
         "MAX(n)", "MIN(time)", "MAX(time)", "SUM(extra)", "MAX(extra)")

_v_st = st.one_of(
    st.none(), st.just(float("nan")), st.sampled_from([0.0, -0.0]),
    # dyadic values: every summation order gives the same double, so
    # SUM/AVG compare exactly across engines
    st.integers(-400, 400).map(lambda k: k / 4))
_row_st = st.tuples(
    st.one_of(st.integers(0, 5).map(lambda h: _T0 + h * _HOUR),
              st.integers(_T0, _T0 + 6 * _HOUR)),
    st.sampled_from(["a", "b", None]),
    st.sampled_from([1, 2, None]),
    st.sampled_from([True, False, None]),
    _v_st,
    st.one_of(st.none(), st.integers(-(2**40), 2**40)),
    _v_st)


def _table(rows, with_extra: bool = True) -> pa.Table:
    cols = list(zip(*rows)) if rows else [()] * 7
    data = {"time": pa.array(cols[0], pa.int64()),
            "host": pa.array(cols[1], pa.string()),
            "rack": pa.array(cols[2], pa.int64()),
            "flag": pa.array(cols[3], pa.bool_()),
            "v": pa.array(cols[4], pa.float64()),
            "n": pa.array(cols[5], pa.int64())}
    if with_extra:
        data["extra"] = pa.array(cols[6], pa.float64())
    return pa.table(data)


def _write(root: str, meas: str, rows, extra_first: bool) -> None:
    """Two writes, so every hour holds two files and one write's files
    have no ``extra`` column."""
    half = len(rows) // 2
    for part, extra in ((rows[:half], extra_first),
                        (rows[half:], not extra_first)):
        if part:
            write_measurement_arrow(_table(part, extra), root, _DB, meas,
                                    tag_columns=["host"])


@pytest.fixture(scope="module")
def env(spark, tmp_path_factory):
    """``tiered``: one old day compacted into the daily tier plus hot
    hours; per-example measurements come from the fuzz."""
    import random

    from arc_spark.operators.compaction import compact_measurement_daily

    tmp = tmp_path_factory.mktemp("native_agg")
    root, daily = str(tmp / "hot"), str(tmp / "daily")
    rnd = random.Random(7)

    def rows(t0, n):
        out = []
        for i in range(n):
            t = t0 + (i % 12) * _HOUR + (0 if i % 5 == 0
                                         else rnd.randrange(_HOUR))
            out.append((t, rnd.choice(["a", "b", None]),
                        rnd.choice([1, 2, None]),
                        rnd.choice([True, False, None]),
                        rnd.choice([None, float("nan"), 0.0, -0.0,
                                    rnd.randrange(-40, 40) / 4]),
                        rnd.choice([None, rnd.randrange(-99, 99)]),
                        rnd.choice([None, rnd.randrange(8) / 2])))
        return out

    _write(root, "tiered", rows(_T0 - 2 * 24 * _HOUR, 120), True)
    compact_measurement_daily(spark, root, _DB, "tiered", daily_root=daily,
                              min_files=2, min_age_seconds=0,
                              now=time.time() + 10**9)
    _write(root, "tiered", rows(_T0, 120), False)
    cat = MeasurementCatalog(spark, root, daily_root=daily)
    assert len(cat.paths(_DB, "tiered")) == 2
    svc = QueryService(spark, cat)
    return root, svc


def _cells(row) -> tuple:
    # NaN != NaN: a sentinel makes rows comparable; ±0.0 compare equal
    return tuple("NaN" if isinstance(v, float) and math.isnan(v) else v
                 for v in row)


def _decode(fmt: str, out):
    """(schema or column names, multiset of rows) of one wire result."""
    if fmt == "rows":
        return None, collections.Counter(_cells(r) for r in out)
    if fmt == "arrow":
        t = pa.ipc.open_stream(out).read_all()
        return t.schema, collections.Counter(
            _cells(r.values()) for r in t.to_pylist())
    if fmt == "json":
        parts = [json.loads(chunk) for chunk in out]
        rows = [r for p in parts[1:] for r in p["data"]]
        return parts[0]["columns"], collections.Counter(map(_cells, rows))
    env_ = unpackb(out)
    names = list(env_["column_order"])
    rows = [[f["columns"][c][i] for c in names]
            for f in env_["frames"] for i in range(f["n"])]
    return names, collections.Counter(map(_cells, rows))


@contextlib.contextmanager
def _spark_route():
    with mock.patch.object(QueryService, "_native_agg", return_value=None):
        yield


def _route(svc) -> str:
    return svc.registry.history()[0].route


_counter = [0]


@st.composite
def _queries(draw):
    keys = draw(st.lists(st.sampled_from(_KEYS), min_size=1, max_size=2,
                         unique=True))
    aggs = draw(st.lists(st.sampled_from(_AGGS), max_size=4, unique=True))
    items = draw(st.permutations(keys + aggs))
    sel = ", ".join(f"{e} AS c{i}" if draw(st.booleans()) else e
                    for i, e in enumerate(items))
    where = draw(st.sampled_from([
        None,
        "time >= '2023-11-15 01:00:00' AND time < '2023-11-15 04:00:00'",
        "time BETWEEN '2023-11-13 00:00:00' AND '2023-11-15 02:00:00'",
        "time > '2030-01-01 00:00:00'",  # empty result
    ]))
    return sel, keys, where


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(rows=st.lists(_row_st, min_size=2, max_size=40),
       extra_first=st.booleans(), q=_queries(),
       tiered=st.booleans(), ref=st.sampled_from(["scoped", "view"]))
def test_native_agg_matches_spark(env, rows, extra_first, q, tiered, ref):
    root, svc = env
    if tiered:
        meas = "tiered"
    else:
        _counter[0] += 1
        meas = f"m{_counter[0]}"
        _write(root, meas, rows, extra_first)
    sel, keys, where = q
    rel, db = {"scoped": (meas, _DB), "view": (f"v_{meas}", None)}[ref]
    if ref == "view":
        svc.register_measurement(_DB, meas, view=rel)
    sql = (f"SELECT {sel} FROM {rel}"
           + (f" WHERE {where}" if where else "")
           + f" GROUP BY {', '.join(keys)}")
    for fmt in _FORMATS:
        native = svc.execute(sql, fmt=fmt, db=db)
        if "extra" not in sel:  # a window without it declines (below)
            assert _route(svc) == "native_agg", sql
        with _spark_route():
            via_spark = svc.execute(sql, fmt=fmt, db=db)
        assert _route(svc) == "spark"
        assert _decode(fmt, native) == _decode(fmt, via_spark), (fmt, sql)


def test_column_missing_from_some_files_is_native(env):
    """A column only some files carry reads as null from the others."""
    root, svc = env
    sql = ("SELECT host, MAX(extra) AS e, COUNT(*) AS n FROM tiered"
           " GROUP BY host")
    native = svc.execute(sql, fmt="arrow", db=_DB)
    assert _route(svc) == "native_agg"
    with _spark_route():
        via_spark = svc.execute(sql, fmt="arrow", db=_DB)
    assert _decode("arrow", native) == _decode("arrow", via_spark)


def test_perfbench_shapes_are_native(env, spark_jobs):
    """The dashboard's time-bucket and per-host shapes start no job."""
    _, svc = env
    with spark_jobs.started() as jobs:
        svc.execute("SELECT host, date_trunc('hour', time) AS bucket, "
                    "AVG(v) AS avg_v FROM tiered WHERE time >= "
                    "'2023-11-15 00:00:00' AND time < '2023-11-15 12:00:00'"
                    " GROUP BY host, date_trunc('hour', time)", db=_DB)
        assert _route(svc) == "native_agg"
        svc.execute("SELECT host, COUNT(*) AS n, SUM(v) AS s, MIN(time) AS"
                    " t0, MAX(time) AS t1 FROM tiered GROUP BY host", db=_DB)
        assert _route(svc) == "native_agg"
    assert jobs == []


@pytest.mark.parametrize("sql", [
    "SELECT host, COUNT(*) AS n FROM tiered GROUP BY host HAVING n > 1",
    "SELECT DISTINCT host FROM tiered",
    "SELECT host, COUNT(*) FROM tiered WHERE rack = 1 GROUP BY host",
    "SELECT a.host, COUNT(*) FROM tiered a JOIN tiered b ON a.host = b.host"
    " GROUP BY a.host",
    "SELECT host, SUM(n) FROM tiered GROUP BY host",       # integer SUM
    "SELECT v, COUNT(*) FROM tiered GROUP BY v",            # float key
    "SELECT host, COUNT(*) FROM tiered GROUP BY host ORDER BY host",
    "SELECT host, COUNT(*) FROM tiered GROUP BY 1",
    "SELECT host, COUNT(v) FROM tiered GROUP BY host",
    # string literals that print like a column or an aggregate
    "SELECT '\\'host' AS h, COUNT(*) FROM tiered GROUP BY host",
    "SELECT \"'count(1)\" AS n FROM tiered",
])
def test_out_of_grammar_runs_on_spark(env, spark_jobs, sql):
    _, svc = env
    with spark_jobs.started() as jobs:
        svc.execute(sql, db=_DB)
    assert _route(svc) == "spark"
    assert jobs


def test_non_utc_session_runs_on_spark(env, spark, spark_jobs):
    _, svc = env
    sql = "SELECT host, COUNT(*) FROM tiered GROUP BY host"
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        with spark_jobs.started() as jobs:
            svc.execute(sql, db=_DB)
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    assert _route(svc) == "spark" and jobs
    svc.execute(sql, db=_DB)
    assert _route(svc) == "native_agg"


def test_size_gate_fails_closed(env, spark_jobs, monkeypatch):
    """One input row over the gate, or an unreadable footer, runs on
    Spark; at the gate the route is native."""
    _, svc = env
    sql = "SELECT host, COUNT(*) FROM tiered GROUP BY host"
    total = svc.catalog.count_rows(_DB, "tiered")
    monkeypatch.setattr(api, "NATIVE_AGG_MAX_ROWS", total)
    svc.execute(sql, db=_DB)
    assert _route(svc) == "native_agg"
    monkeypatch.setattr(api, "NATIVE_AGG_MAX_ROWS", total - 1)
    with spark_jobs.started() as jobs:
        svc.execute(sql, db=_DB)
    assert _route(svc) == "spark" and jobs
    monkeypatch.setattr(api, "NATIVE_AGG_MAX_ROWS", total)

    def unreadable(self, bk, path):
        raise OSError("footer unreadable")

    monkeypatch.setattr(MeasurementCatalog, "_footer", unreadable)
    monkeypatch.setattr(svc.catalog, "_file_meta", {})
    with spark_jobs.started() as jobs:
        svc.execute(sql, db=_DB)
    assert _route(svc) == "spark" and jobs


def test_rbac_row_cap_and_history(env):
    """RBAC, the row cap and the history entry apply as on the other
    native routes."""
    _, svc = env
    gov_svc = QueryService(svc.spark, svc.catalog, governor=Governor(),
                           allowed_tables={"t1": {"other"}})
    sql = "SELECT host, COUNT(*) AS n FROM tiered GROUP BY host"
    with pytest.raises(AccessDeniedError):
        gov_svc.execute(sql, token="t1", db=_DB)
    gov_svc.governor.set_policy("t2", TokenPolicy(max_rows=1))
    assert len(gov_svc.execute(sql, token="t2", db=_DB)) == 1
    info = gov_svc.registry.history()[0]
    assert (info.route, info.rows, info.sql, info.token) == (
        "native_agg", 1, sql, "t2")
    assert len(gov_svc.execute(sql, db=_DB)) == 3
