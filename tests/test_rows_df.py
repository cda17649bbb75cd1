"""``io.rows_df`` contract: driver rows become a JVM-only scan leaf with
the data-sized slice count, and every type the engine's metadata frames
use round-trips unchanged."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import Row
from pyspark.sql import types as T

from reair_spark.catalog import PARTITION_SCHEMA, TABLE_SCHEMA
from reair_spark.io import rows_df

_FIELDS = "array<struct<name:string, type:string, comment:string>>"


def _lineage(df) -> str:
    return df._jdf.queryExecution().toRdd().toDebugString()


def test_table_snapshot_rows_round_trip(spark):
    rows = [
        ("db1", "t1", "MANAGED_TABLE", [("c1", "int", None), ("c2", "string", "x")],
         [("ds", "string", None)], "/w/db1/t1", "parquet",
         {"transient_lastDdlTime": "100", "createTime": "1"}),
        ("db1", "t2", None, [], [], None, None, {}),
        ("db2", "v", "VIRTUAL_VIEW", None, None, None, "parquet", None),
    ]
    got = rows_df(spark, rows, TABLE_SCHEMA)
    assert got.schema == TABLE_SCHEMA
    out = sorted(got.collect(), key=lambda r: (r.db, r.table))
    assert [tuple(r) for r in out] == [
        ("db1", "t1", "MANAGED_TABLE",
         [Row(name="c1", type="int", comment=None), Row(name="c2", type="string", comment="x")],
         [Row(name="ds", type="string", comment=None)], "/w/db1/t1", "parquet",
         {"transient_lastDdlTime": "100", "createTime": "1"}),
        ("db1", "t2", None, [], [], None, None, {}),
        ("db2", "v", "VIRTUAL_VIEW", None, None, None, "parquet", None),
    ]


def test_row_dict_and_tuple_rows_with_ddl_schema(spark):
    schema = (
        f"id long, ts timestamp, tags map<string,string>, cols {_FIELDS}, "
        "vals array<string>, ok boolean, score double"
    )
    t0 = datetime.datetime(2024, 1, 2, 3, 4, 5, 6)
    rows = [
        (1, t0, {"a": "1"}, [("c", "int", None)], ["x", None], True, 0.5),
        Row(id=2, ts=None, tags=None, cols=None, vals=None, ok=None, score=None),
        {"id": 3, "ts": t0, "tags": {}, "cols": [], "vals": [], "ok": False,
         "score": -1.0},
    ]
    got = {r.id: r for r in rows_df(spark, rows, schema).collect()}
    assert got[1].ts == t0 and got[1].tags == {"a": "1"}
    assert got[1].cols == [Row(name="c", type="int", comment=None)]
    assert got[1].vals == ["x", None] and got[1].ok is True and got[1].score == 0.5
    assert tuple(got[2]) == (2, None, None, None, None, None, None)
    assert (got[3].tags, got[3].cols, got[3].vals, got[3].ok) == ({}, [], [], False)


def test_non_nullable_fields_keep_their_schema_and_reject_null(spark):
    schema = T.StructType([
        T.StructField("k", T.StringType(), False),
        T.StructField("v", T.LongType()),
    ])
    got = rows_df(spark, [("a", 1), ("b", None)], schema)
    assert got.schema == schema
    assert sorted(tuple(r) for r in got.collect()) == [("a", 1), ("b", None)]
    with pytest.raises(Exception, match="must not be None|not nullable"):
        rows_df(spark, [(None, 1)], schema).collect()


def test_empty_rows_keep_the_schema(spark):
    got = rows_df(spark, [], PARTITION_SCHEMA)
    assert got.schema == PARTITION_SCHEMA
    assert got.collect() == []
    assert rows_df(spark, iter(()), "a int").columns == ["a"]


@pytest.mark.parametrize(
    "n,rows_per_slice",
    [(1, 4096), (2, 4096), (512, 4096), (4097, 4096), (9000, 2048),
     (1, 1), (3, 1), (40, 1), (7, 2)],
)
def test_slice_count_follows_the_row_count(spark, n, rows_per_slice):
    """ceil(n / rows_per_slice) slices, capped at defaultParallelism;
    ``inventory.list_files`` passes rows_per_slice=1 (one task per root)."""
    want = min(spark.sparkContext.defaultParallelism, -(-n // rows_per_slice))
    df = rows_df(spark, [(i, str(i)) for i in range(n)], "i int, s string",
                 rows_per_slice=rows_per_slice)
    assert df.rdd.getNumPartitions() == want
    assert df.count() == n


def test_scan_needs_no_python_worker(spark):
    """The leaf is a JVM LocalTableScan: no PythonRDD anywhere in the
    lineage, for a snapshot-sized frame and a one-slice-per-row one."""
    parts = [("db", "t", f"ds={i}", [str(i)], f"/w/db/t/ds={i}", {"k": "v"})
             for i in range(64)]
    for df in (
        rows_df(spark, parts, PARTITION_SCHEMA),
        rows_df(spark, [(f"/r{i}", f"/r{i}") for i in range(6)],
                "root string, dir string", rows_per_slice=1),
    ):
        lineage = _lineage(df)
        assert "PythonRDD" not in lineage, lineage
