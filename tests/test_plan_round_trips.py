"""Driver→JVM round-trip budgets for building the diff and the event
compile. Every ``pyspark.sql.functions`` node is one py4j call; these
plans are built as SQL text, one call per projection, and the budgets
(measured count + ~20 %) keep a per-node rewrite from creeping back.
Counts are taken at the gateway client's ``send_command``, the path
every py4j call takes."""

from __future__ import annotations

import datetime
import threading

import pytest

from reair_spark.catalog import PARTITION_SCHEMA, TABLE_SCHEMA
from reair_spark.diff import warehouse_plan
from reair_spark.events import compile_jobs

#: measured 178 and 123 calls when the budgets were set (the per-node
#: ``F.*`` builds they replaced made 2,915 and 1,681)
DIFF_BUDGET = 214
COMPILE_BUDGET = 148

_EVENT_SCHEMA = (
    "id long, create_time timestamp, command_type string, command string, "
    "objects array<struct<category:string, obj_type:string, name:string, "
    "payload:string>>"
)


@pytest.fixture()
def count_round_trips(spark, monkeypatch):
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    building_thread = threading.get_ident()
    calls = [0]

    def counted(*a, **k):
        # py4j frees dropped JVM proxies from a background thread; only
        # the building thread's calls are the plan's cost
        if threading.get_ident() == building_thread:
            calls[0] += 1
        return send(*a, **k)

    def count(build):
        monkeypatch.setattr(client, "send_command", counted)
        try:
            calls[0] = 0
            build()
            return calls[0]
        finally:
            monkeypatch.setattr(client, "send_command", send)

    return count


def _snapshots(spark):
    params = {"transient_lastDdlTime": "100", "createTime": "1"}
    cols = [("c1", "string", None)]
    pkeys = [("ds", "string", None)]
    tables = [
        ("db1", "t1", "MANAGED_TABLE", cols, pkeys, "/src/db1/t1", "parquet", params),
        ("db1", "t2", "MANAGED_TABLE", cols, [], "/src/db1/t2", "parquet", params),
    ]
    parts = [
        ("db1", "t1", f"ds={i}", [str(i)], f"/src/db1/t1/ds={i}", params)
        for i in range(3)
    ]
    digests = spark.createDataFrame(
        [("/src/db1/t2", 1, 10, 7)],
        "root string, n_files long, total_size long, digest long",
    )
    return (
        spark.createDataFrame(tables, TABLE_SCHEMA),
        spark.createDataFrame(tables[:1], TABLE_SCHEMA),
        spark.createDataFrame(parts, PARTITION_SCHEMA),
        spark.createDataFrame(parts[:1], PARTITION_SCHEMA),
        digests,
    )


def test_diff_build_round_trips_within_budget(spark, count_round_trips):
    src_t, dest_t, src_p, dest_p, dg = _snapshots(spark)

    def build():
        warehouse_plan(src_t, dest_t, src_p, dest_p, dg, dg)

    build()  # warm: first-use JVM class lookups are not the plan's cost
    n = count_round_trips(build)
    assert n <= DIFF_BUDGET, n


def test_event_compile_round_trips_within_budget(spark, count_round_trips):
    t0 = datetime.datetime(2024, 1, 1)
    events = spark.createDataFrame(
        [
            (1, t0, "CREATETABLE", "", [("OUTPUT", "TABLE", "db1.t1", "{}")]),
            (2, t0, "ADDPARTITION", "",
             [("OUTPUT", "PARTITION", "db1.t1/ds=1", "{}"),
              ("OUTPUT", "PARTITION", "db1.t1/ds=2", "{}")]),
        ],
        _EVENT_SCHEMA,
    )

    def build():
        compile_jobs(events)

    build()
    n = count_round_trips(build)
    assert n <= COMPILE_BUDGET, n
