"""JDBC audit-log source (auditlog.py) against embedded Derby — the
incremental loop's S5 parity path (AuditLogReader.java:199-225),
end-to-end through events.run_incremental polling the JDBC tail."""

from __future__ import annotations

import datetime
import os

import pytest

from reair_spark.auditlog import JdbcAuditLogSource, write_events_to_jdbc
from reair_spark.catalog import DirectoryCatalog
from reair_spark.events import run_incremental
from reair_spark.state import JobStore, KeyValueStore
from tests.test_batch_replication import _make_unpartitioned

EVENT_SCHEMA = (
    "id long, create_time timestamp, command_type string, command string, "
    "objects array<struct<category:string, obj_type:string, name:string, payload:string>>"
)
_T0 = datetime.datetime(2024, 1, 1)
_PROPS = {"driver": "org.apache.derby.iapi.jdbc.AutoloadedDriver"}


def _derby_url(tmp_path, name="adb"):
    return f"jdbc:derby:{tmp_path}/{name};create=true"


def _seed(spark, url, rows):
    write_events_to_jdbc(
        spark.createDataFrame(rows, EVENT_SCHEMA), url,
        properties=_PROPS, mode="append",
    )


@pytest.fixture()
def source_factory(tmp_path):
    def make(url, **kw):
        return JdbcAuditLogSource(url, properties=_PROPS, **kw)

    return make


def test_tail_batches_filter_and_group(spark, tmp_path, source_factory):
    url = _derby_url(tmp_path)
    _seed(spark, url, [
        (1, _T0, "CREATETABLE", "create t1", [("OUTPUT", "TABLE", "db1.t1", "{}")]),
        (2, _T0, "SHOWTABLES", "show tables", []),       # filtered in SQL
        (3, _T0, "QUERY", "insert",
         [("OUTPUT", "PARTITION", "db1.t1/ds=1", "{}"),
          ("OUTPUT", "PARTITION", "db1.t1/ds=2", "{}")]),  # grouped into one entry
        (4, _T0, "SWITCHDATABASE", "use db1", []),        # filtered in SQL
        (5, _T0, "DROPTABLE", "drop t9", []),             # entry without objects
    ])
    src = source_factory(url)

    b1, ids1 = src.read_batch(spark, 0, 2)
    r1 = {r["id"]: r for r in b1.collect()}
    assert sorted(r1) == ids1 == [1, 3]                   # skipped types never surface
    assert len(r1[3]["objects"]) == 2                     # N object rows -> one entry
    assert r1[1]["objects"][0]["name"] == "db1.t1"

    b2, ids2 = src.read_batch(spark, max(r1), 2)
    r2 = b2.collect()
    assert [r["id"] for r in r2] == ids2 == [5]
    assert r2[0]["objects"] == []                         # no-objects entry kept
    assert src.read_batch(spark, 5, 2) is None            # drained


def test_backfill_range_matches_tail(spark, tmp_path, source_factory):
    url = _derby_url(tmp_path, "backfill")
    _seed(spark, url, [
        (i, _T0, "CREATETABLE", f"c{i}", [("OUTPUT", "TABLE", f"db1.t{i}", "{}")])
        for i in range(1, 11)
    ])
    src = source_factory(url)
    tail_ids = []
    last = 0
    while True:
        page = src.read_batch(spark, last, 3)
        if page is None:
            break
        ids = [r["id"] for r in page[0].collect()]
        assert sorted(ids) == page[1]
        tail_ids += ids
        last = max(ids)
    ranged = src.read_range(spark, 0, 10, num_partitions=4)
    assert sorted(r["id"] for r in ranged.collect()) == sorted(tail_ids) == list(range(1, 11))


def test_run_incremental_jdbc_end_to_end(spark, tmp_path, source_factory):
    """The full loop off a JDBC tail: replicate, checkpoint, resume,
    replay no-op — mirror of the parquet-events e2e."""
    url = _derby_url(tmp_path, "loop")
    src_root, dest_root = str(tmp_path / "src"), str(tmp_path / "dest")
    state_dir = str(tmp_path / "state")
    src_cat, dest_cat = DirectoryCatalog(src_root), DirectoryCatalog(dest_root)
    _make_unpartitioned(src_cat, "db1", "t1")
    _make_unpartitioned(src_cat, "db1", "t2")
    _seed(spark, url, [
        (1, _T0, "CREATETABLE", "c1", [("OUTPUT", "TABLE", "db1.t1", "{}")]),
        (2, _T0, "CREATETABLE", "c2", [("OUTPUT", "TABLE", "db1.t2", "{}")]),
    ])
    src = source_factory(url)
    log_dir = f"{state_dir}/replication_jobs"

    r1 = run_incremental(
        spark, src, src_root, dest_root, state_dir, batch_size=1, max_batches=1
    )
    assert r1["last_id"] == 1 and r1["batches"] == 1
    assert dest_cat.get_table("db1", "t1") is not None
    assert KeyValueStore(f"{state_dir}/key_value.json").get("last_persisted_id") == "1"
    # one writer: a PENDING and a terminal file per executed batch
    assert len(os.listdir(log_dir)) == 2

    r2 = run_incremental(spark, src, src_root, dest_root, state_dir, batch_size=1)
    assert r2["last_id"] == 2 and r2["batches"] == 1
    assert dest_cat.get_table("db1", "t2") is not None
    assert len(os.listdir(log_dir)) == 4

    r3 = run_incremental(spark, src, src_root, dest_root, state_dir, batch_size=1)
    assert r3["batches"] == 0                              # replay safety
    assert set(r3["job_status_counts"]) <= {"SUCCESSFUL", "NOT_COMPLETABLE"}
    assert len(os.listdir(log_dir)) == 4


def test_run_incremental_jdbc_start_after_id(spark, tmp_path, source_factory):
    """--start-after-id parity on the JDBC loop: abort the persisted
    in-flight job, skip ids at/below the override, replay the rest."""
    from reair_spark.events import _job_cols, compile_jobs

    url = _derby_url(tmp_path, "override")
    src_root, dest_root = str(tmp_path / "src"), str(tmp_path / "dest")
    state_dir = str(tmp_path / "state")
    src_cat, dest_cat = DirectoryCatalog(src_root), DirectoryCatalog(dest_root)
    for t in ("t1", "t2"):
        _make_unpartitioned(src_cat, "db1", t)
    _seed(spark, url, [
        (1, _T0, "CREATETABLE", "c1", [("OUTPUT", "TABLE", "db1.t1", "{}")]),
        (2, _T0, "CREATETABLE", "c2", [("OUTPUT", "TABLE", "db1.t2", "{}")]),
    ])
    src = source_factory(url)
    # crash-persisted PENDING job for event 1
    store = JobStore(spark, f"{state_dir}/replication_jobs")
    first = src.read_batch(spark, 0, 200)[0].filter("id = 1")
    store.append_rows(compile_jobs(first).select(*_job_cols()).collect())

    res = run_incremental(
        spark, src, src_root, dest_root, state_dir, start_after_id=1
    )
    assert res["job_status_counts"].get("ABORTED") == 1
    assert dest_cat.get_table("db1", "t1") is None        # aborted, not run
    assert dest_cat.get_table("db1", "t2") is not None    # replayed
    assert res["last_id"] == 2


def test_pause_stops_jdbc_tail_loop(spark, tmp_path, source_factory):
    """The monitor's pause flag stops the loop on every polled source,
    the JDBC tail included: a paused loop consumes no batch, replicates
    nothing and leaves the checkpoint where it was."""
    url = _derby_url(tmp_path, "paused")
    src_root, dest_root = str(tmp_path / "src"), str(tmp_path / "dest")
    state_dir = str(tmp_path / "state")
    _make_unpartitioned(DirectoryCatalog(src_root), "db1", "t1")
    _seed(spark, url, [
        (1, _T0, "CREATETABLE", "c1", [("OUTPUT", "TABLE", "db1.t1", "{}")]),
    ])
    kv = KeyValueStore(f"{state_dir}/key_value.json")
    kv.set("last_persisted_id", "0")
    kv.set("paused", "true")

    res = run_incremental(
        spark, source_factory(url), src_root, dest_root, state_dir
    )
    assert res["batches"] == 0
    assert res["last_id"] == 0
    assert kv.get("last_persisted_id") == "0"
    assert DirectoryCatalog(dest_root).get_table("db1", "t1") is None


def test_cli_incremental_polls_jdbc_tail(spark, tmp_path, capsys):
    """`incremental <jdbc:url>` runs the same loop over the JDBC tail
    (a tail holding only non-replicating commands is drained at once);
    `--streaming` reads a parquet dir and refuses a jdbc: URL."""
    import json

    from reair_spark.__main__ import main

    url = _derby_url(tmp_path, "cli")
    _seed(spark, url, [(1, _T0, "SWITCHDATABASE", "use db1", [])])
    args = ["incremental", url, str(tmp_path / "src"), str(tmp_path / "dest"),
            str(tmp_path / "state"), "--jdbc-driver", _PROPS["driver"]]

    assert main(args) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["batches"] == 0 and out["last_id"] == 0
    with pytest.raises(SystemExit):
        main(args + ["--streaming"])


def test_db_watchdog_recovers_then_expires(spark, tmp_path, source_factory):
    """DbConnectionWatchdog parity: transient tail-read failures retry
    quietly; a DB unreachable past the limit raises DbWatchdogExpired
    so a supervisor can restart (checkpointed state replays cleanly)."""
    from reair_spark.auditlog import DbWatchdogExpired

    url = _derby_url(tmp_path, "wdog")
    src_root, dest_root = str(tmp_path / "src"), str(tmp_path / "dest")
    src_cat = DirectoryCatalog(src_root)
    _make_unpartitioned(src_cat, "db1", "t1")
    _seed(spark, url, [
        (1, _T0, "CREATETABLE", "c1", [("OUTPUT", "TABLE", "db1.t1", "{}")]),
    ])

    class Flaky:
        """Fails n times, then delegates to the real source."""

        def __init__(self, inner, fail_times):
            self.inner, self.left = inner, fail_times

        def read_batch(self, spark, after_id, batch_size):
            if self.left > 0:
                self.left -= 1
                raise RuntimeError("connection refused")
            return self.inner.read_batch(spark, after_id, batch_size)

    real = source_factory(url)
    # two transient failures, generous limit: loop recovers and finishes
    res = run_incremental(
        spark, Flaky(real, 2), src_root, dest_root, str(tmp_path / "s1"),
        watchdog_limit_s=30.0, watchdog_retry_s=0.05,
    )
    assert res["last_id"] == 1
    assert DirectoryCatalog(dest_root).get_table("db1", "t1") is not None

    # permanently down: expires after the (tiny) limit
    import pytest

    with pytest.raises(DbWatchdogExpired):
        run_incremental(
            spark, Flaky(real, 10**9), src_root, dest_root,
            str(tmp_path / "s2"),
            watchdog_limit_s=0.2, watchdog_retry_s=0.05,
        )
