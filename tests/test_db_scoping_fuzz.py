"""Header-database scoping fuzz (r11 verdict item 8).

The ``x-arc-database`` surface (reference query.go:1484-1495 header
scoping + query.go:3026-3157 header-vs-param precedence) is the last
regex-free resolution layer with example-based coverage only. This
fuzzes the PROPERTIES over random identifier shapes and cross-database
name collisions:

1. an unqualified name under a scoped request resolves to THAT
   database's measurement — never a same-named measurement elsewhere;
2. ``db.table`` under a scoped request is rejected on every serving
   path (native count, native time-range, Spark) — scoping can never
   be bypassed by qualifying;
3. the native COUNT fast path and the full Spark path agree under
   scoping (the two resolvers, ``_resolve_relation`` and
   ``_bind``, must be the same function observably);
4. non-identifier database names are rejected upfront;
5. ``SHOW MEASUREMENTS`` defaults to the scoped database.

Collision shape: every example writes TWO databases that both contain a
measurement with the SAME name but different row counts and a
per-database marker value — any resolution slip changes an assertion.
"""

from __future__ import annotations

import pyarrow as pa
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from arc_spark.api import QueryService, SqlValidationError
from arc_spark.catalog import MeasurementCatalog
from arc_spark.sources.writer import write_measurement_arrow

_T0 = 1_700_000_000_000_000

_ident = st.from_regex(r"[a-z][a-z0-9_]{0,8}", fullmatch=True).filter(
    lambda s: s not in {"time", "default", "select", "from", "where"})

_counter = [0]


def _write(root, db, meas, n, marker):
    tbl = pa.table({
        "time": pa.array([_T0 + i * 1_000_000 for i in range(n)],
                         pa.int64()),
        "marker": pa.array([marker] * n, pa.int64()),
    })
    write_measurement_arrow(tbl, root, db, meas, tag_columns=[])


@pytest.fixture(scope="module")
def scoping_env(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("scoping") / "data")
    cat = MeasurementCatalog(spark, root)
    svc = QueryService(spark, cat)
    return root, cat, svc


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(data=st.data())
def test_header_db_scoping_properties(scoping_env, data):
    root, cat, svc = scoping_env
    _counter[0] += 1
    uniq = _counter[0]
    base = data.draw(_ident)
    # two databases, colliding measurement name, distinct shape+marker
    db_a, db_b = f"sca{uniq}_{base}", f"scb{uniq}_{base}"
    meas = data.draw(_ident)
    n_a = data.draw(st.integers(min_value=1, max_value=5))
    n_b = data.draw(st.integers(min_value=6, max_value=11))
    _write(root, db_a, meas, n_a, 100 + uniq)
    _write(root, db_b, meas, n_b, 200 + uniq)
    cat.register(db_a, meas, view=meas)

    # (1)+(3): bare COUNT(*) (native footer path) and the forced-Spark
    # variant agree, and both see the SCOPED database's row count even
    # though a same-named measurement exists elsewhere and a view with
    # the bare name is bound to db_a
    for scoped, want in ((db_a, n_a), (db_b, n_b)):
        native = svc.execute(f"SELECT COUNT(*) FROM {meas}", db=scoped)
        assert native[0][0] == want, f"native count crossed dbs ({scoped})"
        sparkside = svc.execute(
            f"SELECT COUNT(*) AS c FROM {meas} WHERE 1=1", db=scoped)
        assert sparkside[0]["c"] == want, f"spark path crossed dbs ({scoped})"
        rows = svc.execute(
            f"SELECT marker FROM {meas} WHERE 1=1 LIMIT 1", db=scoped)
        want_marker = (100 if scoped == db_a else 200) + uniq
        assert rows[0]["marker"] == want_marker

    # (2): qualifying can't bypass scoping — on the count shape AND the
    # generic shape, against both the scoped and the foreign database
    for target in (db_a, db_b):
        for sql in (f"SELECT COUNT(*) FROM {target}.{meas}",
                    f"SELECT marker FROM {target}.{meas} WHERE 1=1"):
            with pytest.raises(SqlValidationError,
                               match="cross-database"):
                svc.execute(sql, db=db_b)

    # (4): non-identifier database names never reach resolution
    bad = data.draw(st.sampled_from(
        ["a.b", "a b", "a;b", "", "1x", "a-b", 'a"b']))
    with pytest.raises(SqlValidationError, match="invalid database"):
        svc.execute(f"SELECT COUNT(*) FROM {meas}", db=bad)

    # (5): SHOW MEASUREMENTS defaults to the scoped database
    shown = {r["measurement"]
             for r in svc.execute("SHOW MEASUREMENTS", db=db_b)}
    assert meas in shown
    shown_a = {r["measurement"]
               for r in svc.execute("SHOW MEASUREMENTS", db=db_a)}
    assert meas in shown_a


def test_one_view_name_alternating_databases(spark, tmp_path):
    """Scoped Spark-route queries alternate between two databases that
    both hold ``cpu``: the temp view ``cpu`` has one owner at a time, so
    every query reads its own database, and invalidating one database's
    measurement never repoints the other's view."""
    root = str(tmp_path / "data")
    _write(root, "alt_a", "cpu", 3, 100)
    _write(root, "alt_b", "cpu", 5, 200)
    cat = MeasurementCatalog(spark, root)
    svc = QueryService(spark, cat)
    sql = "SELECT COUNT(*) AS n, SUM(marker) AS s FROM cpu WHERE 1=1"
    want = {"alt_a": (3, 300), "alt_b": (5, 1000)}
    for db in ("alt_a", "alt_b", "alt_a", "alt_b"):
        row = svc.execute(sql, db=db)[0]
        assert (row["n"], row["s"]) == want[db], db
    assert cat.view_binding("cpu") == ("alt_b", "cpu")
    assert cat.views_for("alt_b", "cpu") == {"cpu"}
    assert cat.views_for("alt_a", "cpu") == set()
    cat.invalidate("alt_a", "cpu")
    assert cat.view_binding("cpu") == ("alt_b", "cpu")
    row = svc.execute(sql, db="alt_b")[0]
    assert (row["n"], row["s"]) == want["alt_b"]
    # unscoped, the bare name reads its one owner — natively
    assert svc.execute("SELECT COUNT(*) AS n FROM cpu")[0]["n"] == 5
