"""Incremental mode — pytest port of the reference's
ReplicationServerTest scenarios (FIXTURES.md B.7 #5-6): event
classification, dynamic-partition batching, rename, exchange-partition
parsing, checkpoint restart."""

from __future__ import annotations

import datetime
import json

import pytest
from pyspark.sql import functions as F

from reair_spark.catalog import DirectoryCatalog
from reair_spark.events import compile_jobs, run_incremental
from reair_spark.state import KeyValueStore
from tests.test_batch_replication import _make_unpartitioned, _write_files

EVENT_SCHEMA = (
    "id long, create_time timestamp, command_type string, command string, "
    "objects array<struct<category:string, obj_type:string, name:string, payload:string>>"
)

_T0 = datetime.datetime(2024, 1, 1)


def _ev(eid, ctype, command="", objects=()):
    return (eid, _T0, ctype, command, list(objects))


def _out(name, obj_type="TABLE", payload="{}"):
    return ("OUTPUT", obj_type, name, payload)


@pytest.fixture()
def events_df(spark):
    def make(rows):
        return spark.createDataFrame(rows, EVENT_SCHEMA)

    return make


def test_create_table_compiles_to_copy(spark, events_df):
    jobs = compile_jobs(events_df([_ev(1, "CREATETABLE", objects=[_out("db1.t1")])]))
    r = jobs.collect()[0]
    assert r.operation == "COPY_UNPARTITIONED_TABLE"
    assert (r.db, r.table) == ("db1", "t1")


def test_partitioned_create_detected_from_payload(spark, events_df):
    payload = json.dumps({"partition_keys": [{"name": "ds"}]})
    jobs = compile_jobs(
        events_df([_ev(1, "CREATETABLE", objects=[_out("db1.t1", payload=payload)])])
    )
    assert jobs.collect()[0].operation == "COPY_PARTITIONED_TABLE"


def test_dynamic_partition_insert_batches_to_one_job(spark, events_df):
    """>1 partitions of one table in one entry → ONE COPY_PARTITIONS
    (ReplicationJobFactory.java:660-663)."""
    jobs = compile_jobs(
        events_df(
            [
                _ev(
                    7,
                    "QUERY",
                    objects=[
                        _out("db1.t1/ds=1/hr=1", "PARTITION"),
                        _out("db1.t1/ds=1/hr=2", "PARTITION"),
                        _out("db1.t1/ds=1/hr=3", "PARTITION"),
                    ],
                )
            ]
        )
    ).collect()
    assert len(jobs) == 1
    j = jobs[0]
    assert j.operation == "COPY_PARTITIONS"
    assert j.partition_names == ["ds=1/hr=1", "ds=1/hr=2", "ds=1/hr=3"]


def test_rename_classified_with_old_and_new_names(spark, events_df):
    jobs = compile_jobs(
        events_df(
            [
                _ev(
                    3,
                    "ALTERTABLE_RENAME",
                    objects=[
                        ("RENAME_FROM", "TABLE", "db1.old", "{}"),
                        _out("db1.new"),
                    ],
                )
            ]
        )
    ).collect()
    j = jobs[0]
    assert j.operation == "RENAME_TABLE"
    assert (j.db, j.table) == ("db1", "old")
    assert (j.rename_to_db, j.rename_to_table) == ("db1", "new")


def test_drop_table_and_partition(spark, events_df):
    jobs = {
        j.operation
        for j in compile_jobs(
            events_df(
                [
                    _ev(4, "DROPTABLE", objects=[_out("db1.t1")]),
                    _ev(5, "DROPPARTITION", objects=[_out("db1.t1/ds=1", "PARTITION")]),
                ]
            )
        ).collect()
    }
    assert jobs == {"DROP_TABLE", "DROP_PARTITION"}


def test_non_replicating_commands_filtered(spark, events_df):
    jobs = compile_jobs(
        events_df(
            [
                _ev(1, "SHOWTABLES", objects=[_out("db1.t1")]),
                _ev(2, "QUERY", objects=[]),  # no outputs
            ]
        )
    )
    assert jobs.count() == 0


def test_exchange_partition_regex_workaround(spark, events_df):
    """HIVE-12865: outputs are lost, so the SQL text is parsed
    (ExchangePartitionParser.java:19-52)."""
    cmd = "ALTER TABLE db1.src_t EXCHANGE PARTITION (ds='1', hr='2') WITH TABLE db1.dest_t"
    jobs = compile_jobs(
        events_df([_ev(9, "EXCHANGEPARTITION", command=cmd,
                       objects=[("INPUT", "TABLE", "db1.src_t", "{}")])])
    ).collect()
    j = jobs[0]
    assert j.operation == "COPY_PARTITION"
    assert (j.db, j.table) == ("db1", "dest_t")
    assert j.partition_names == ["ds=1/hr=2"]


def test_incremental_loop_with_checkpoint_restart(spark, events_df, tmp_path):
    src_root, dest_root = str(tmp_path / "src"), str(tmp_path / "dest")
    state_dir = str(tmp_path / "state")
    src_cat = DirectoryCatalog(src_root)
    dest_cat = DirectoryCatalog(dest_root)

    _make_unpartitioned(src_cat, "db1", "t1")
    _make_unpartitioned(src_cat, "db1", "t2")
    events = events_df(
        [
            _ev(1, "CREATETABLE", objects=[_out("db1.t1")]),
            _ev(2, "CREATETABLE", objects=[_out("db1.t2")]),
        ]
    )

    # process only the first batch (batch_size=1), then "crash"
    r1 = run_incremental(
        spark, events, src_root, dest_root, state_dir, batch_size=1, max_batches=1
    )
    assert r1["last_id"] == 1
    assert dest_cat.get_table("db1", "t1") is not None
    # t2's event not yet consumed — but targeted replication may not have
    # touched it either
    kv = KeyValueStore(f"{state_dir}/key_value.json")
    assert kv.get("last_persisted_id") == "1"

    # resume: picks up after the checkpoint, consumes the rest
    r2 = run_incremental(
        spark, events, src_root, dest_root, state_dir, batch_size=10
    )
    assert r2["last_id"] == 2
    assert dest_cat.get_table("db1", "t2") is not None

    # replay safety: running again from the same events is a no-op
    r3 = run_incremental(spark, events, src_root, dest_root, state_dir)
    assert r3["batches"] == 0
    # monitoring surface: all jobs terminal, zero lag
    assert set(r3["job_status_counts"]) <= {"SUCCESSFUL", "NOT_COMPLETABLE"}
    assert r3["job_status_counts"].get("FAILED") is None
    assert r3["lag_seconds"] == 0.0


def test_start_after_id_aborts_inflight_and_forces_resume(spark, events_df, tmp_path):
    """Operator override after a bad deploy (ReplicationLauncher
    --start-after-id, launch():134-136 → abortRunnableFromDb): the
    crash-persisted in-flight job is marked ABORTED and never executed,
    events at or below the override are skipped, later events replay."""
    from reair_spark.events import _job_cols
    from reair_spark.state import JobStore

    src_root, dest_root = str(tmp_path / "src"), str(tmp_path / "dest")
    state_dir = str(tmp_path / "state")
    src_cat, dest_cat = DirectoryCatalog(src_root), DirectoryCatalog(dest_root)
    for t in ("t1", "t2", "t3"):
        _make_unpartitioned(src_cat, "db1", t)
    events = events_df(
        [
            _ev(1, "CREATETABLE", objects=[_out("db1.t1")]),
            _ev(2, "CREATETABLE", objects=[_out("db1.t2")]),
            _ev(3, "CREATETABLE", objects=[_out("db1.t3")]),
        ]
    )
    # simulate a crash mid-flight: event 1's job persisted PENDING,
    # never executed, checkpoint never advanced
    store = JobStore(spark, f"{state_dir}/replication_jobs")
    store.append_rows(
        compile_jobs(events.filter("id = 1")).select(*_job_cols()).collect()
    )
    assert store.incomplete().count() == 1

    res = run_incremental(
        spark, events, src_root, dest_root, state_dir, start_after_id=2
    )
    # in-flight job aborted — terminal, NOT re-executed
    assert res["job_status_counts"].get("ABORTED") == 1
    assert dest_cat.get_table("db1", "t1") is None
    # event 2 is at the override boundary: skipped
    assert dest_cat.get_table("db1", "t2") is None
    # event 3 is after the override: replayed
    assert dest_cat.get_table("db1", "t3") is not None
    assert res["last_id"] == 3
    kv = KeyValueStore(f"{state_dir}/key_value.json")
    assert kv.get("last_persisted_id") == "3"

    # a later un-overridden restart stays at the forced position
    r2 = run_incremental(spark, events, src_root, dest_root, state_dir)
    assert r2["batches"] == 0
    # aborted job stays terminal across restarts (never re-queued)
    assert r2["job_status_counts"].get("ABORTED") == 1


def test_rename_execution_moves_dest_table(spark, events_df, tmp_path):
    src_root, dest_root = str(tmp_path / "src"), str(tmp_path / "dest")
    src_cat, dest_cat = DirectoryCatalog(src_root), DirectoryCatalog(dest_root)
    _make_unpartitioned(src_cat, "db1", "old")
    run_incremental(
        spark,
        spark.createDataFrame([_ev(1, "CREATETABLE", objects=[_out("db1.old")])], EVENT_SCHEMA),
        src_root, dest_root, str(tmp_path / "s1"),
    )
    assert dest_cat.get_table("db1", "old") is not None

    # source renames old → new
    src_cat.rename_table("db1", "old", "db1", "new")
    loc = src_cat.table_location("db1", "new")
    import shutil

    shutil.move(src_cat.table_location("db1", "old"), loc)
    rec = src_cat.get_table("db1", "new")
    rec["location"] = loc
    rec["parameters"]["transient_lastDdlTime"] = "200"
    src_cat.alter_table(rec)

    ev = spark.createDataFrame(
        [_ev(2, "ALTERTABLE_RENAME",
             objects=[("RENAME_FROM", "TABLE", "db1.old", "{}"), _out("db1.new")])],
        EVENT_SCHEMA,
    )
    run_incremental(spark, ev, src_root, dest_root, str(tmp_path / "s2"))
    assert dest_cat.get_table("db1", "old") is None
    assert dest_cat.get_table("db1", "new") is not None


def test_direct_api_mutations_replicate_end_to_end(spark, tmp_path):
    """The full metastore-listener loop (VERDICT r4 missing #1,
    producer side landed as AuditingCatalog): mutate the SOURCE
    warehouse only through the direct catalog API — zero SQL — and
    verify the audit rows it emits drive run_incremental to converge
    the destination (copy the created tables' data, then drop on a
    second pass)."""
    import os

    from reair_spark.catalog import DirectoryCatalog
    from reair_spark.events import run_incremental
    from reair_spark.hook import AuditLogHook, AuditingCatalog

    src_root = str(tmp_path / "src_wh")
    dest_root = str(tmp_path / "dest_wh")
    hook = AuditLogHook(spark, str(tmp_path / "audit_log"))
    cat = AuditingCatalog(DirectoryCatalog(src_root), hook)

    def seed(loc, files):
        for name, content in files.items():
            os.makedirs(loc, exist_ok=True)
            with open(os.path.join(loc, name), "w") as fh:
                fh.write(content)

    loc = cat.table_location("db1", "t1")
    seed(loc, {"f1.txt": "alpha", "f2.txt": "beta"})
    cat.create_table({
        "db": "db1", "table": "t1", "table_type": "MANAGED_TABLE",
        "cols": [{"name": "c1", "type": "string", "comment": None}],
        "partition_keys": [], "location": loc, "serde": "text",
        "parameters": {"transient_lastDdlTime": "100"},
    })
    ploc = cat.table_location("db1", "p1")
    cat.create_table({
        "db": "db1", "table": "p1", "table_type": "MANAGED_TABLE",
        "cols": [{"name": "c1", "type": "string", "comment": None}],
        "partition_keys": [{"name": "ds", "type": "string", "comment": None}],
        "location": ploc, "serde": "text",
        "parameters": {"transient_lastDdlTime": "100"},
    })
    seed(os.path.join(ploc, "ds=1"), {"part.txt": "gamma"})
    cat.add_partition("db1", "p1", {
        "partition_name": "ds=1", "values": ["1"],
        "location": os.path.join(ploc, "ds=1"),
        "parameters": {"transient_lastDdlTime": "100"},
    })
    assert hook.flush() == 3

    res = run_incremental(
        spark, hook.events_df(), src_root, dest_root,
        str(tmp_path / "state1"),
    )
    assert res["job_status_counts"].get("FAILED") is None
    dest_cat = DirectoryCatalog(dest_root)
    assert dest_cat.get_table("db1", "t1") is not None
    assert dest_cat.get_table("db1", "p1") is not None
    with open(os.path.join(dest_root, "db1", "t1", "f1.txt")) as fh:
        assert fh.read() == "alpha"
    with open(os.path.join(dest_root, "db1", "p1", "ds=1", "part.txt")) as fh:
        assert fh.read() == "gamma"

    # second wave: a drop through the API propagates too
    cat.drop_table("db1", "t1")
    assert hook.flush() == 1
    run_incremental(
        spark, hook.events_df(), src_root, dest_root,
        str(tmp_path / "state1"),
    )
    assert dest_cat.get_table("db1", "t1") is None
    assert dest_cat.get_table("db1", "p1") is not None


def test_incremental_e2e_digest_multibatch_equivalence(spark, tmp_path):
    """The gate query (incremental_e2e_digest, single batch) and a
    2-batch checkpointed run of the same audited scenario produce
    IDENTICAL digest rows — the loop's batch boundary never changes
    the converged outcome (ST4/ST7 idempotence; the gate keeps one
    batch purely to halve its fixed per-replication job floor)."""
    from reair_spark.engine_queries import (
        _incremental_scenario,
        incremental_e2e_digest,
    )
    from reair_spark.inventory import list_files

    sf = "/root/testdata/sf0.001"
    gate_rows = sorted(
        tuple(r) for r in incremental_e2e_digest(spark, sf).collect()
    )

    # same scenario, forced through TWO checkpointed batches
    # (25 creates, then 16 drops/renames)
    hook, src_root, dest_root, state_dir = _incremental_scenario(spark, sf)
    res = run_incremental(
        spark, hook.events_df(), src_root, dest_root, state_dir, batch_size=25
    )
    assert res["batches"] == 2
    jobs = (
        res["job_store"].current()
        .groupBy("operation", "status")
        .agg(F.count("*").alias("n"))
        .select(
            F.lit("job").alias("component"),
            F.col("operation").alias("kind"),
            F.col("status").alias("detail"),
            "n",
            F.lit(0).cast("long").alias("total_bytes"),
        )
    )
    dest_cat = DirectoryCatalog(dest_root)
    locs = [
        (dest_cat.get_table("wh", t)["location"],)
        for t in dest_cat.tables("wh")
    ]
    inv = list_files(spark, spark.createDataFrame(locs, "location string"))
    dest_state = (
        inv  # list_files returns file rows only (dirs drive recursion)
        .groupBy("root")
        .agg(F.count("*").alias("n"), F.sum("size").alias("total_bytes"))
        .select(
            F.lit("dest").alias("component"),
            F.lit("TABLE").alias("kind"),
            F.element_at(F.split("root", "/"), -1).alias("detail"),
            "n",
            "total_bytes",
        )
    )
    two_batch_rows = sorted(
        tuple(r) for r in jobs.unionByName(dest_state).collect()
    )
    assert two_batch_rows == gate_rows
