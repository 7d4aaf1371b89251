"""The benchmark's oracle must refuse a result with one row dropped or
one value changed, on both workloads' row shapes, at tiny scale.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]

import workloads  # noqa: E402
from oracle import Oracle, same_rows, spark_multiset  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession
    s = (SparkSession.builder.master("local[1]").appName("perfbench-oracle")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.session.timeZone", "UTC").getOrCreate())
    yield s
    s.stop()


def _tables():
    return {"code_lake": workloads.code_lake(60, seed=3),
            "event_log": workloads.event_log(200, seed=3)}


def _drop_row(tbl: pa.Table, i: int) -> pa.Table:
    return pa.concat_tables([tbl.slice(0, i), tbl.slice(i + 1)])


def _change_value(tbl: pa.Table, i: int) -> pa.Table:
    """One cell of the last string column gets one extra character."""
    name = [f.name for f in tbl.schema if pa.types.is_string(f.type)][-1]
    col = tbl.column(name).to_pylist()
    col[i] = (col[i] or "") + "!"
    return tbl.set_column(tbl.schema.get_field_index(name), name,
                          pa.array(col, tbl.schema.field(name).type))


def _multiset_of(spark, tbl, path, cols):
    pq.write_table(tbl, path)
    return spark_multiset(spark.read.parquet(path), cols)


@pytest.mark.parametrize("name", ["code_lake", "event_log"])
def test_multiset_refuses_dropped_row_and_changed_value(spark, tmp_path, name):
    tbl = _tables()[name]
    wl = workloads.WORKLOADS[name]
    orc = Oracle(tbl, wl.key, wl.unique, [])
    d = tmp_path / "input"
    d.mkdir()
    pq.write_table(tbl, str(d / "run00.parquet"))
    want = orc.live_multiset(spark, str(d))
    cols = tbl.column_names
    assert _multiset_of(spark, tbl, str(tmp_path / "same.parquet"), cols) == want
    assert _multiset_of(spark, _drop_row(tbl, 7), str(tmp_path / "drop.parquet"),
                        cols) != want
    assert _multiset_of(spark, _change_value(tbl, 7),
                        str(tmp_path / "change.parquet"), cols) != want


@pytest.mark.parametrize("name", ["code_lake", "event_log"])
def test_row_compare_refuses_dropped_row_and_changed_value(name):
    tbl = _tables()[name]
    wl = workloads.WORKLOADS[name]
    cols = tbl.column_names
    shuffled = tbl.take(pa.array(list(reversed(range(tbl.num_rows)))))
    assert same_rows(shuffled, tbl, cols, wl.unique)
    assert not same_rows(_drop_row(tbl, 7), tbl, cols, wl.unique)
    assert not same_rows(_change_value(tbl, 7), tbl, cols, wl.unique)


def test_deleted_keys_leave_the_expected_results():
    tbl = _tables()["event_log"]
    wl = workloads.WORKLOADS["event_log"]
    gone = tbl.column(wl.key)[0].as_py()
    orc = Oracle(tbl, wl.key, wl.unique, [gone])
    n_gone = int(pc.sum(pc.equal(tbl.column(wl.key), gone)).as_py())
    assert orc.deleted_in([gone]) == n_gone >= 1
    assert orc.live.num_rows == tbl.num_rows - n_gone
    assert orc.lookup(gone).num_rows == 0
    # a result that still holds a deleted row is refused
    assert not orc.same(tbl, orc.live)
