"""Schema memo of ``MeasurementCatalog.table``: a view over a committed
file list whose footers share one schema reuses the schema Spark
inferred for that footer shape, instead of running inference again.
Anything the memo key cannot vouch for infers, exactly as before."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from arc_spark import snapshots
from arc_spark.catalog import MeasurementCatalog
from arc_spark.sources.writer import write_measurement_arrow

_T0 = 1_700_000_000_000_000


def _write(root, db, meas, cols: dict, hours: int = 2):
    n = hours
    tbl = pa.table({
        "time": pa.array([_T0 + i * 3_600_000_000 for i in range(n)],
                         pa.int64()),
        **{k: pa.array([v] * n, t) for k, (v, t) in cols.items()},
    })
    write_measurement_arrow(tbl, root, db, meas, tag_columns=[])


def _inferred(spark, cat, db, meas) -> str:
    """Schema JSON of a fresh inferring read over the committed files —
    what ``table()`` built before the memo existed."""
    (p,) = cat.paths(db, meas)
    files = snapshots.data_files(p)
    return (spark.read.option("basePath", p).option("mergeSchema", "true")
            .parquet(*files).schema.json())


def test_memo_hit_matches_inference(spark, tmp_path, spark_jobs):
    root = str(tmp_path)
    cols = {"host": ("a", pa.string()), "usage": (0.5, pa.float64()),
            "n": (7, pa.int64()), "at": (_T0, pa.timestamp("ms"))}
    _write(root, "one", "cpu", cols)
    _write(root, "two", "cpu", cols, hours=3)
    cat = MeasurementCatalog(spark, root)
    cat.register("one", "cpu", view="memo_one")
    assert len(cat._schema_memo) == 1
    with spark_jobs.started() as jobs:
        cat.register("two", "cpu", view="memo_two")
    assert jobs == []  # no inference job: the memo answered
    assert len(cat._schema_memo) == 1
    got = spark.table("memo_two").schema.json()
    assert got == _inferred(spark, cat, "two", "cpu")
    assert spark.table("memo_two").count() == 3


@pytest.mark.parametrize("second", [
    {"usage": (0.5, pa.float64()), "extra": ("x", pa.string())},  # added
    {"usage": (0.5, pa.float64()), "at": (_T0, pa.timestamp("us"))},
], ids=["added_field", "evolved_type"])
def test_mixed_footers_miss_the_memo(spark, tmp_path, second):
    """Files with different footers in one tier infer and merge like
    before — never the memo of either shape."""
    root = str(tmp_path)
    first = {"usage": (0.5, pa.float64()), "at": (_T0, pa.timestamp("ms"))}
    _write(root, "evo", "cpu", first)
    _write(root, "same", "cpu", first)
    cat = MeasurementCatalog(spark, root)
    cat.register("same", "cpu", view="memo_same")  # memoizes `first`
    memo = dict(cat._schema_memo)
    _write(root, "evo", "cpu", second)
    cat.register("evo", "cpu", view="memo_evo")
    assert cat._schema_memo == memo
    got = spark.table("memo_evo").schema
    assert got.json() == _inferred(spark, cat, "evo", "cpu")
    assert set(second) <= set(got.names)


@pytest.mark.parametrize("seg, spark_type", [
    ("region=us", "string"),
    ("hour=07", "int"),
    ("big=3000000000", "bigint"),
])
def test_non_int32_hive_values_infer(spark, tmp_path, seg, spark_type):
    """A hive value the int32 rule cannot type (a string, a
    non-canonical or out-of-range integer) leaves the schema to Spark."""
    root = str(tmp_path)
    meas = os.path.join(root, "hv", "m")
    os.makedirs(os.path.join(meas, seg))
    f = os.path.join(meas, seg, "part-0.parquet")
    pq.write_table(pa.table({"time": pa.array([_T0], pa.timestamp("us")),
                             "v": [1.0]}), f)
    snapshots.commit(meas, add=[f])
    cat = MeasurementCatalog(spark, root)
    cat.register("hv", "m", view="memo_hv")
    assert cat._schema_memo == {}
    got = spark.table("memo_hv").schema
    assert got.json() == _inferred(spark, cat, "hv", "m")
    assert got[seg.partition("=")[0]].dataType.simpleString() == spark_type
