"""Round-8 ADVICE regression tests.

Each test pins one of the round-7 advisor findings so the fix cannot
regress:
  1. JobStore survives a crash inside compact()'s two-rename window
     (canonical log absent, snapshot/old left behind) — recovery must
     restore job state + max seq instead of reading an "empty store".
  2. msck_repair is a no-op on unpartitioned tables (Hive semantics)
     instead of registering k=v-named subdirectories as partitions.
  3. RetryingFs.unlink converges on lost-success: a server-side delete
     whose ack was lost must not surface as FileNotFoundError on retry.
"""

from __future__ import annotations

import os
import shutil

import pytest

from reair_spark.fs import RetryingFs
from reair_spark.state import JobStore


def _store_with_jobs(spark, path):
    store = JobStore(spark, path)
    store.append_rows(spark.createDataFrame(
        [(1, "COPY_PARTITION", "PENDING", "db1", "t1")],
        "job_id long, operation string, status string, db string, "
        "table string",
    ).collect())
    store.append_rows(spark.createDataFrame(
        [(1, "COPY_PARTITION", "RUNNING", "db1", "t1"),
         (2, "COPY_PARTITION", "SUCCESSFUL", "db1", "t2")],
        "job_id long, operation string, status string, db string, "
        "table string",
    ).collect())
    return store


def test_jobstore_recovers_crash_between_compact_renames(spark, tmp_path):
    """Simulate the exact crash window: log → .__old done, snapshot
    still at .__compacting, canonical path ABSENT. A fresh JobStore
    must promote the snapshot, keep the in-flight job for ST4
    re-queueing, and resume seq past the persisted max."""
    path = str(tmp_path / "jobs")
    store = _store_with_jobs(spark, path)
    snap = store.current().cache()
    assert snap.count() == 2
    # hand-build the mid-compact state the two-rename swap produces
    snap.write.mode("overwrite").parquet(f"{path}.__compacting")
    snap.unpersist()
    os.replace(path, f"{path}.__old")
    assert not os.path.exists(path)

    recovered = JobStore(spark, path)
    cur = {r.job_id: r.status for r in recovered.current().collect()}
    assert cur == {1: "RUNNING", 2: "SUCCESSFUL"}
    assert [r.job_id for r in recovered.incomplete().collect()] == [1]
    assert not os.path.exists(f"{path}.__compacting")
    assert not os.path.exists(f"{path}.__old")
    # seq resumed: a post-recovery append must win last-writer-wins
    recovered.append_rows(spark.createDataFrame(
        [(1, "COPY_PARTITION", "SUCCESSFUL", "db1", "t1")],
        "job_id long, operation string, status string, db string, "
        "table string",
    ).collect())
    assert recovered.current().filter(
        "job_id = 1 AND status = 'SUCCESSFUL'"
    ).count() == 1


def test_jobstore_recovers_old_log_when_snapshot_missing(spark, tmp_path):
    """Crash BEFORE the snapshot finished (or snapshot already
    promoted then clobbered): only .__old remains → restore it."""
    path = str(tmp_path / "jobs")
    _store_with_jobs(spark, path)
    os.replace(path, f"{path}.__old")

    recovered = JobStore(spark, path)
    cur = {r.job_id: r.status for r in recovered.current().collect()}
    assert cur == {1: "RUNNING", 2: "SUCCESSFUL"}
    assert not os.path.exists(f"{path}.__old")


def test_jobstore_stale_leftovers_removed_when_log_intact(spark, tmp_path):
    """Crash AFTER the second rename: canonical log is the snapshot,
    .__old is stale history — init must keep the log and sweep."""
    path = str(tmp_path / "jobs")
    store = _store_with_jobs(spark, path)
    shutil.copytree(path, f"{path}.__old")
    before = {r.job_id: r.status for r in store.current().collect()}

    recovered = JobStore(spark, path)
    assert {r.job_id: r.status
            for r in recovered.current().collect()} == before
    assert not os.path.exists(f"{path}.__old")


def test_compact_finishes_interrupted_predecessor(spark, tmp_path):
    """compact() on a store whose previous compaction crashed mid-swap
    must first recover, then compact — not report an empty store."""
    path = str(tmp_path / "jobs")
    store = _store_with_jobs(spark, path)
    snap = store.current()
    snap.write.mode("overwrite").parquet(f"{path}.__compacting")
    os.replace(path, f"{path}.__old")

    fresh = JobStore(spark, path)
    assert fresh.compact() == 2
    assert fresh.current().count() == 2


def test_msck_noop_on_unpartitioned_table(spark, tmp_path):
    from reair_spark.catalog import DirectoryCatalog
    from reair_spark.msck import msck_repair

    cat = DirectoryCatalog(str(tmp_path / "wh"))
    loc = cat.table_location("db1", "flat")
    # an unpartitioned table whose data dir CONTAINS a k=v-named subdir
    os.makedirs(os.path.join(loc, "ds=1"), exist_ok=True)
    with open(os.path.join(loc, "ds=1", "part-0"), "wb") as fh:
        fh.write(b"x")
    cat.create_table({
        "db": "db1", "table": "flat", "table_type": "MANAGED_TABLE",
        "cols": [{"name": "c1", "type": "string", "comment": None}],
        "partition_keys": [],
        "location": loc, "serde": "text", "parameters": {},
    })
    plan = msck_repair(spark, cat, "db1", "flat")
    assert plan.count() == 0
    assert cat.get_partitions("db1", "flat") == []


class _LostAckFs:
    """Inner FS whose unlink succeeds server-side but reports a
    transient OSError ``lose`` times; subsequent calls see the file
    already gone (FileNotFoundError)."""

    scheme = "lostack"

    def __init__(self, lose: int):
        self.files = {"/a": b"x"}
        self.lose = lose
        self.calls = 0

    def unlink(self, path: str) -> None:
        self.calls += 1
        if path not in self.files:
            raise FileNotFoundError(path)
        del self.files[path]
        if self.lose > 0:
            self.lose -= 1
            raise OSError("503 slow down (ack lost after delete)")


def test_retrying_unlink_converges_on_lost_success():
    inner = _LostAckFs(lose=1)
    fs = RetryingFs(inner, attempts=3, backoff_s=0.0)
    fs.unlink("/a")  # must NOT raise FileNotFoundError
    assert inner.files == {}
    assert inner.calls == 2


def test_retrying_unlink_missing_file_still_contract_error():
    inner = _LostAckFs(lose=0)
    fs = RetryingFs(inner, attempts=3, backoff_s=0.0)
    with pytest.raises(FileNotFoundError):
        fs.unlink("/missing")
    assert inner.calls == 1  # no retries on a first-call contract error
