"""Diff-planner decision table — pytest port of the reference's
TaskEstimatorTest scenarios (FIXTURES.md B.7 #4)."""

from __future__ import annotations

import pytest

from reair_spark.catalog import PARTITION_SCHEMA, TABLE_SCHEMA
from reair_spark.diff import partition_diff, table_diff, warehouse_plan


def _table(db="db1", table="t1", ttype="MANAGED_TABLE", loc="/src/db1/t1",
           tldt="100", pkeys=(), cols=(("c1", "string", None),), serde="parquet"):
    return (db, table, ttype, list(cols), list(pkeys), loc, serde,
            {"transient_lastDdlTime": tldt, "createTime": "1"})


def _part(db="db1", table="t1", name="ds=1", loc="/src/db1/t1/ds=1", tldt="100"):
    return (db, table, name, [v.split("=")[1] for v in name.split("/")], loc,
            {"transient_lastDdlTime": tldt, "createTime": "5"})


def _digest(spark, pairs):
    return spark.createDataFrame(
        [(root, n, sz, dg) for root, (n, sz, dg) in pairs.items()],
        "root string, n_files long, total_size long, digest long",
    )


@pytest.fixture()
def tdf(spark):
    def make(rows):
        return spark.createDataFrame(rows, TABLE_SCHEMA)

    return make


@pytest.fixture()
def pdf(spark):
    def make(rows):
        return spark.createDataFrame(rows, PARTITION_SCHEMA)

    return make


def _one(plan):
    rows = plan.collect()
    assert len(rows) == 1
    return rows[0]


def test_src_only_table_copies(spark, tdf):
    r = _one(table_diff(tdf([_table()]), tdf([])))
    assert r.action == "COPY_UNPARTITIONED_TABLE"
    assert r.update_metadata and r.update_data


def test_src_only_partitioned_table_copies_metadata_only(spark, tdf):
    r = _one(table_diff(tdf([_table(pkeys=(("ds", "string", None),))]), tdf([])))
    assert r.action == "COPY_PARTITIONED_TABLE"
    assert r.update_metadata and not r.update_data


def test_dest_only_table_drops(spark, tdf):
    r = _one(table_diff(tdf([]), tdf([_table(loc="/dest/db1/t1")])))
    assert r.action == "DROP_TABLE"


def test_identical_tables_noop(spark, tdf):
    src, dest = _table(), _table(loc="/dest/db1/t1")
    dg = _digest(spark, {"/src/db1/t1": (2, 10, 111), "/dest/db1/t1": (2, 10, 111)})
    r = _one(table_diff(tdf([src]), tdf([dest]), dg, dg))
    assert r.action == "NO_OP"


def test_create_time_difference_still_noop(spark, tdf):
    """stripNonComparables: createTime differences are not drift."""
    src = _table()
    dest = (*_table(loc="/dest/db1/t1")[:7],
            {"transient_lastDdlTime": "100", "createTime": "999"})
    dg = _digest(spark, {"/src/db1/t1": (2, 10, 111), "/dest/db1/t1": (2, 10, 111)})
    r = _one(table_diff(tdf([src]), tdf([dest]), dg, dg))
    assert r.action == "NO_OP"


def test_metadata_drift_copies_metadata_only(spark, tdf):
    src = _table(tldt="200")
    dest = _table(loc="/dest/db1/t1", tldt="100")
    dg = _digest(spark, {"/src/db1/t1": (2, 10, 111), "/dest/db1/t1": (2, 10, 111)})
    r = _one(table_diff(tdf([src]), tdf([dest]), dg, dg))
    assert r.action == "COPY_UNPARTITIONED_TABLE"
    assert r.update_metadata and not r.update_data


def test_data_drift_copies_data(spark, tdf):
    src, dest = _table(), _table(loc="/dest/db1/t1")
    dg = _digest(spark, {"/src/db1/t1": (2, 10, 111), "/dest/db1/t1": (2, 99, 222)})
    r = _one(table_diff(tdf([src]), tdf([dest]), dg, dg))
    assert r.action == "COPY_UNPARTITIONED_TABLE"
    assert not r.update_metadata and r.update_data


def test_missing_dest_data_is_restored(spark, tdf):
    """Equal metadata, source files present, destination location with
    no digest (missing or empty dir): the data comparison must read
    unequal, not NULL — a NULL fell through the ladder to a COPY whose
    update_data was false, so the destination data was never
    restored."""
    src, dest = _table(), _table(loc="/dest/db1/t1")
    dg = _digest(spark, {"/src/db1/t1": (3, 30, 333)})
    r = _one(table_diff(tdf([src]), tdf([dest]), dg, dg))
    assert (r.action, r.update_metadata, r.update_data) == (
        "COPY_UNPARTITIONED_TABLE", False, True
    )


def test_schema_change_detected(spark, tdf):
    """schemasMatch (ReplicationUtils.java:139-142): col drift = drift."""
    src = _table(cols=(("c1", "string", None), ("c2", "bigint", None)))
    dest = _table(loc="/dest/db1/t1")
    dg = _digest(spark, {"/src/db1/t1": (2, 10, 111), "/dest/db1/t1": (2, 10, 111)})
    r = _one(table_diff(tdf([src]), tdf([dest]), dg, dg))
    assert r.action == "COPY_UNPARTITIONED_TABLE" and r.update_metadata


def test_dest_newer_guard(spark, tdf):
    """W3 newer-guard: overwrite_newer=False → DEST_IS_NEWER → NO_OP."""
    src = _table(tldt="100")
    dest = _table(loc="/dest/db1/t1", tldt="500")
    r = _one(table_diff(tdf([src]), tdf([dest]), overwrite_newer=False))
    assert r.action == "NO_OP"
    r2 = _one(table_diff(tdf([src]), tdf([dest]), overwrite_newer=True))
    assert r2.action == "COPY_UNPARTITIONED_TABLE"


def test_view_copies_metadata_only(spark, tdf):
    src = _table(ttype="VIRTUAL_VIEW", loc=None)
    r = _one(table_diff(tdf([src]), tdf([])))
    assert r.action == "COPY_UNPARTITIONED_TABLE"
    assert r.update_metadata and not r.update_data


def test_s3_location_not_copied(spark, tdf):
    src = _table(loc="s3a://bucket/db1/t1")
    r = _one(table_diff(tdf([src]), tdf([])))
    assert r.update_metadata and not r.update_data


def test_partition_diff_three_way(spark, pdf):
    """src-only → COPY, dest-only → DROP, both-equal → NO_OP in one join."""
    src = pdf([_part(name="ds=1"), _part(name="ds=2", loc="/src/db1/t1/ds=2")])
    dest = pdf([_part(name="ds=2", loc="/dest/db1/t1/ds=2"),
                _part(name="ds=3", loc="/dest/db1/t1/ds=3")])
    dg = _digest(spark, {"/src/db1/t1/ds=2": (1, 5, 42), "/dest/db1/t1/ds=2": (1, 5, 42)})
    rows = {r.partition_name: r for r in partition_diff(src, dest, dg, dg).collect()}
    assert rows["ds=1"].action == "COPY_PARTITION"
    assert rows["ds=2"].action == "NO_OP"
    assert rows["ds=3"].action == "DROP_PARTITION"


def test_warehouse_plan_unions_levels(spark, tdf, pdf):
    plan = warehouse_plan(
        tdf([_table(pkeys=(("ds", "string", None),))]), tdf([]),
        pdf([_part()]), pdf([]),
    )
    actions = sorted(r.action for r in plan.collect())
    assert actions == ["COPY_PARTITION", "COPY_PARTITIONED_TABLE"]


def test_schema_diff_classifies_field_drift(spark, tdf):
    from reair_spark.diff import schema_diff

    src = tdf([_table(cols=(("c1", "string", None), ("c2", "int", None),
                            ("c3", "string", None)))])
    dest = tdf([_table(cols=(("c1", "string", None), ("c2", "bigint", None),
                             ("c4", "double", None)))])
    rows = {r.col_name: r for r in schema_diff(src, dest).collect()}
    assert set(rows) == {"c2", "c3", "c4"}  # c1 unchanged → absent
    assert rows["c2"].change == "RETYPED"
    assert (rows["c2"].src_type, rows["c2"].dest_type) == ("int", "bigint")
    assert rows["c3"].change == "ADDED"
    assert rows["c4"].change == "REMOVED"


def test_schema_diff_identical_schemas_empty(spark, tdf):
    from reair_spark.diff import schema_diff

    t = tdf([_table()])
    assert schema_diff(t, t).count() == 0
