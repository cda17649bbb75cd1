"""Lifetime of the replication engine's materialized results.

A result the engine materializes once for its side effects is a local
checkpoint, never a ``.cache()``: CacheManager entries live until the
process ends, which in the long-running incremental daemon is a heap
that grows with every batch. These tests pin three properties over
``replicate_warehouse``, ``sync_directories`` and a 5-batch
``run_incremental``:

- nothing enters Spark's CacheManager;
- once the returned frames are dropped, the persisted RDDs behind them
  are freed (the persistent-RDD count returns to its value before the
  call);
- re-reading the copy and commit results never re-runs a copy or a
  commit.

A batch that raises must leave nothing cached either (the loop polling
a JDBC tail, and the streaming sink).
"""

from __future__ import annotations

import datetime
import gc
import os
import time

import pytest

from reair_spark.catalog import DirectoryCatalog
from reair_spark.dirsync import sync_directories
from reair_spark.events import run_incremental
from reair_spark.replicate import replicate_warehouse
from tests.test_batch_replication import (
    _make_partitioned,
    _make_unpartitioned,
    _write_files,
)

EVENT_SCHEMA = (
    "id long, create_time timestamp, command_type string, command string, "
    "objects array<struct<category:string, obj_type:string, name:string, "
    "payload:string>>"
)
_T0 = datetime.datetime(2024, 1, 1)


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _released_to(spark, before: int, timeout_s: float = 10.0) -> int:
    """Collect garbage on both sides of py4j until the persistent-RDD
    count is back at ``before`` or ``timeout_s`` passes; returns the
    last count. py4j releases a collected Python handle through a
    background deque, one round-trip per object, so each poll waits
    for that deque to drain before the JVM's collection lets the
    ContextCleaner see the unreachable RDDs."""
    sc = spark.sparkContext
    pending = sc._gateway._gateway_client.finalizer_deque
    deadline = time.monotonic() + timeout_s
    while True:
        gc.collect()
        while pending and time.monotonic() < deadline:
            time.sleep(0.05)
        sc._jvm.System.gc()
        n = _persistent_rdds(spark)
        if n <= before or time.monotonic() > deadline:
            return n
        time.sleep(0.2)


def _tree_state(root: str) -> dict[str, tuple]:
    """Every file under ``root`` with its inode, mtime and ctime: a
    re-run copy or catalog write replaces or rewrites the file, which
    moves at least one of them (ctime cannot be set back)."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(d, f))
            out[os.path.join(d, f)] = (
                st.st_ino, st.st_mtime_ns, st.st_ctime_ns, st.st_size
            )
    return out


def _catalog_records(cat: DirectoryCatalog) -> dict:
    return {
        (db, t): (cat.get_table(db, t), cat.get_partitions(db, t))
        for db in cat.databases()
        for t in cat.tables(db)
    }


@pytest.fixture()
def rdds_before(spark):
    """Start from an empty CacheManager (entries an earlier test in the
    shared session left are not under test) and return the
    persistent-RDD count before the call."""
    spark.catalog.clearCache()
    assert _cache_empty(spark)
    gc.collect()
    return _persistent_rdds(spark)


def test_replicate_warehouse_results_are_released(spark, tmp_path, rdds_before):
    src, dest = str(tmp_path / "src"), str(tmp_path / "dest")
    src_cat, dest_cat = DirectoryCatalog(src), DirectoryCatalog(dest)
    _make_unpartitioned(src_cat, "db1", "t1")
    _make_partitioned(src_cat, "db1", "t2", ["ds=1/hr=1", "ds=1/hr=2"])

    r = replicate_warehouse(spark, src, dest)
    assert _cache_empty(spark)
    files, records = _tree_state(dest), _catalog_records(dest_cat)
    assert len(records) == 2

    for _ in range(2):
        copied = r["copy_results"].collect()
        committed = r["commit_results"].collect()
    assert {c.status for c in copied} == {"COPIED"}
    assert len(copied) == 6 and len(committed) > 0
    # the copies and commits ran once, at the call; the reads did not
    # re-run them
    assert _tree_state(dest) == files
    assert _catalog_records(dest_cat) == records
    # the observe() counters fired on the checkpointing actions
    assert r["metrics"]["copy"]["n_success"] == 6
    assert r["metrics"]["commit"]["n_actions"] == len(committed)
    assert _cache_empty(spark)

    del r, copied, committed
    assert _released_to(spark, rdds_before) <= rdds_before


def test_sync_directories_results_are_released(spark, tmp_path, rdds_before):
    src, dest = str(tmp_path / "src"), str(tmp_path / "dest")
    _write_files(src, {"a.txt": "alpha", "sub/b.txt": "beta", "c.txt": "gamma"})
    _write_files(dest, {"c.txt": "stale!", "gone.txt": "dest-only"})

    r = sync_directories(spark, [src], dest, delete_extraneous=True)
    assert _cache_empty(spark)
    files = _tree_state(dest)
    for _ in range(2):
        results = r["results"].collect()
    assert sorted(x.status for x in results) == [
        "COPIED", "COPIED", "COPIED", "DELETED"
    ]
    assert _tree_state(dest) == files
    assert _cache_empty(spark)

    del r, results
    assert _released_to(spark, rdds_before) <= rdds_before


def test_incremental_batches_are_released(spark, tmp_path, rdds_before):
    src, dest = str(tmp_path / "src"), str(tmp_path / "dest")
    src_cat, dest_cat = DirectoryCatalog(src), DirectoryCatalog(dest)
    tables = [f"t{i}" for i in range(1, 6)]
    for t in tables:
        _make_unpartitioned(src_cat, "db1", t)
    events = spark.createDataFrame(
        [(i, _T0, "CREATETABLE", "", [("OUTPUT", "TABLE", f"db1.{t}", "{}")])
         for i, t in enumerate(tables, 1)],
        EVENT_SCHEMA,
    )

    r = run_incremental(
        spark, events, src, dest, str(tmp_path / "state"), batch_size=1
    )
    assert r["batches"] == 5
    assert all(dest_cat.get_table("db1", t) is not None for t in tables)
    assert _cache_empty(spark)

    del r, events
    assert _released_to(spark, rdds_before) <= rdds_before


def _raise(*_a, **_k):
    raise RuntimeError("execute_job_rows failed")


def test_jdbc_batch_that_raises_releases_its_cache(
    spark, tmp_path, monkeypatch, rdds_before
):
    from reair_spark import events
    from reair_spark.auditlog import JdbcAuditLogSource
    from tests.test_auditlog import _PROPS, _derby_url, _seed

    url = _derby_url(tmp_path, "fail")
    _seed(spark, url, [
        (1, _T0, "CREATETABLE", "c1", [("OUTPUT", "TABLE", "db1.t1", "{}")]),
    ])
    monkeypatch.setattr(events, "execute_job_rows", _raise)
    with pytest.raises(RuntimeError, match="execute_job_rows failed"):
        events.run_incremental(
            spark, JdbcAuditLogSource(url, properties=_PROPS),
            str(tmp_path / "src"), str(tmp_path / "dest"),
            str(tmp_path / "state"),
        )
    assert _cache_empty(spark)


def test_stream_batch_that_raises_releases_its_cache(
    spark, tmp_path, monkeypatch, rdds_before
):
    from pyspark.errors import StreamingQueryException

    from reair_spark import events
    from reair_spark.streaming import stream_replicate

    ev_dir = str(tmp_path / "events_src")
    spark.createDataFrame(
        [(1, None, "CREATETABLE", "", [("OUTPUT", "TABLE", "db1.t1", "{}")])],
        EVENT_SCHEMA,
    ).write.parquet(ev_dir)
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(ev_dir)
    monkeypatch.setattr(events, "execute_job_rows", _raise)
    with pytest.raises(StreamingQueryException, match="execute_job_rows failed"):
        stream_replicate(
            spark, stream, str(tmp_path / "src"), str(tmp_path / "dest"),
            str(tmp_path / "state"), str(tmp_path / "ckpt"),
        )
    assert _cache_empty(spark)
