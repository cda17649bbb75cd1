"""Observation-based job metrics (S10/A6/A7 surface)."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from reair_spark.metrics import JobMetrics, lag_seconds, observe_results


def _copy_results(spark):
    rows = [
        ("/s/a", "/d/a", "COPIED", 100, None),
        ("/s/b", "/d/b", "COPIED", 50, None),
        ("/s/c", "/d/c", "SKIPPED", 0, None),
        ("/s/d", "/d/d", "FAILED", 0, "IOError: boom"),
    ]
    return spark.createDataFrame(
        rows,
        "src_file string, dest_file string, status string, "
        "bytes_copied long, error string",
    )


def test_copy_observation_single_pass(spark):
    observed, obs = observe_results(_copy_results(spark), "copy")
    observed.count()
    got = dict(obs.get)
    assert got == {
        "n_files": 4,
        "n_success": 2,
        "n_skipped": 1,
        "n_failed": 1,
        "bytes_copied": 150,
    }


def test_commit_observation(spark):
    rows = [
        ("db1", "t1", None, "SUCCESSFUL", None),
        ("db1", "t2", "ds=1", "NOT_COMPLETABLE", None),
        ("db1", "t3", None, "FAILED", "err"),
    ]
    df = spark.createDataFrame(
        rows, "db string, table string, partition_name string, "
              "status string, error string"
    )
    observed, obs = observe_results(df, "commit")
    observed.count()
    got = dict(obs.get)
    assert (got["n_actions"], got["n_applied"], got["n_skipped"], got["n_failed"]) == (
        3, 1, 1, 1,
    )


def test_job_metrics_registry(spark):
    m = JobMetrics()
    df = m.observe(_copy_results(spark), "copy")
    df.count()
    m.mark_done("copy")
    snap = m.snapshot()
    assert snap["copy"]["n_files"] == 4
    assert snap["copy"]["wall_s"] >= 0


def test_replicate_returns_metrics(spark, tmp_path):
    """End-to-end: replicate_warehouse surfaces copy+commit counters."""
    from reair_spark.catalog import DirectoryCatalog
    from reair_spark.replicate import replicate_warehouse

    import os

    src, dest = str(tmp_path / "src"), str(tmp_path / "dest")
    cat = DirectoryCatalog(src)
    loc = cat.table_location("db1", "t1")
    os.makedirs(loc, exist_ok=True)
    with open(os.path.join(loc, "part-0.txt"), "w") as fh:
        fh.write("1\n2\n")
    cat.create_table(
        {
            "db": "db1",
            "table": "t1",
            "table_type": "MANAGED_TABLE",
            "cols": [{"name": "c1", "type": "string", "comment": None}],
            "partition_keys": [],
            "location": loc,
            "serde": "text",
            "parameters": {"transient_lastDdlTime": "100"},
        }
    )
    DirectoryCatalog(dest)  # init empty dest

    out = replicate_warehouse(spark, src, dest)
    snap = out["metrics"]
    assert snap["commit"]["n_failed"] == 0
    assert snap["commit"]["n_applied"] >= 1
    if "copy" in snap:
        assert snap["copy"]["n_failed"] == 0
        assert snap["copy"]["bytes_copied"] >= 0


def test_job_store_lag(spark, tmp_path):
    """Lag = age of oldest in-flight job's FIRST transition; terminal
    jobs don't count; retries don't reset the clock."""
    import time

    from reair_spark.state import JobStore

    store = JobStore(spark, str(tmp_path / "jobs"))
    assert store.lag_seconds() == 0.0

    def _jobs(rows):
        return spark.createDataFrame(
            rows,
            "job_id long, operation string, status string, db string, "
            "table string, partition_names array<string>, "
            "rename_to_db string, rename_to_table string, src_event_id long",
        )

    t0 = time.time()
    store.append_rows(_jobs([(1, "COPY", "PENDING", "db1", "t1", None, None, None, 10),
                             (2, "COPY", "PENDING", "db1", "t2", None, None, None, 11)]).collect())
    store.append_rows(_jobs([(2, "COPY", "SUCCESSFUL", "db1", "t2", None, None, None, 11),
                             (1, "COPY", "RUNNING", "db1", "t1", None, None, None, 10)]).collect())
    lag = store.lag_seconds(now_ts=t0 + 100)
    assert 90 <= lag <= 110  # job 1 still in flight, clocked from first append

    store.append_rows(_jobs([(1, "COPY", "SUCCESSFUL", "db1", "t1", None, None, None, 10)]).collect())
    assert store.lag_seconds() == 0.0


def test_job_store_seq_survives_restart(spark, tmp_path):
    """A store reopened over an existing log must continue the seq
    sequence, or post-restart transitions lose the latest-per-job race
    and requeued jobs stay PENDING forever."""
    from reair_spark.state import JobStore

    path = str(tmp_path / "jobs")

    def _jobs(rows):
        return spark.createDataFrame(
            rows,
            "job_id long, operation string, status string, db string, "
            "table string, partition_names array<string>, "
            "rename_to_db string, rename_to_table string, src_event_id long",
        )

    s1 = JobStore(spark, path)
    s1.append_rows(_jobs([(1, "COPY", "PENDING", "db1", "t1", None, None, None, 10)]).collect())
    s1.append_rows(_jobs([(1, "COPY", "RUNNING", "db1", "t1", None, None, None, 10)]).collect())

    s2 = JobStore(spark, path)  # "restart"
    s2.append_rows(_jobs([(1, "COPY", "SUCCESSFUL", "db1", "t1", None, None, None, 10)]).collect())
    cur = s2.current().collect()
    assert [(r.job_id, r.status) for r in cur] == [(1, "SUCCESSFUL")]
    assert s2.incomplete().count() == 0


def test_lag_seconds(spark):
    now = datetime.datetime(2026, 8, 13, 12, 0, 0)
    df = spark.createDataFrame(
        [(1, now - datetime.timedelta(seconds=90)), (2, now)],
        "id long, create_time timestamp",
    )
    lag = lag_seconds(df, now_ts=now.timestamp())
    assert 89.0 <= lag <= 91.0
    empty = spark.createDataFrame([], "id long, create_time timestamp")
    assert lag_seconds(empty) == 0.0


def test_status_snapshot_over_seeded_state(spark, tmp_path):
    """status surface parity (reair.thrift getActiveJobs/getLag):
    seeded transition log -> active/retired split, counts, lag."""
    from reair_spark.state import JobStore, KeyValueStore, status_snapshot

    state = str(tmp_path / "state")
    store = JobStore(spark, f"{state}/replication_jobs")
    jobs = spark.createDataFrame(
        [(1, "COPY_UNPARTITIONED_TABLE", "PENDING", "db", "t1", [], None, None, 10),
         (2, "COPY_PARTITION", "PENDING", "db", "t2", ["ds=1"], None, None, 11),
         (3, "DROP_TABLE", "PENDING", "db", "t3", [], None, None, 12)],
        "job_id long, operation string, status string, db string, table string, "
        "partition_names array<string>, rename_to_db string, "
        "rename_to_table string, src_event_id long",
    )
    store.append_rows(jobs.collect())
    store.append_rows(jobs.filter("job_id = 1").replace("PENDING", "SUCCESSFUL", "status").collect())
    KeyValueStore(f"{state}/key_value.json").set("last_persisted_id", "12")

    snap = status_snapshot(spark, state)
    assert snap["last_persisted_id"] == 12
    assert snap["n_active"] == 2 and snap["n_retired"] == 1
    assert snap["status_counts"] == {"PENDING": 2, "SUCCESSFUL": 1}
    assert snap["lag_seconds"] >= 0
    assert [j["job_id"] for j in snap["active_jobs"]] == [2, 3]


def test_status_cli(spark, tmp_path, capsys):
    import json as _json

    from reair_spark.__main__ import main
    from reair_spark.state import JobStore

    state = str(tmp_path / "state")
    JobStore(spark, f"{state}/replication_jobs").append_rows(spark.createDataFrame(
        [(5, "COPY_PARTITION", "PENDING", "db", "t", ["ds=1"], None, None, 1)],
        "job_id long, operation string, status string, db string, table string, "
        "partition_names array<string>, rename_to_db string, "
        "rename_to_table string, src_event_id long",
    ).collect())
    assert main(["status", state]) == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["n_active"] == 1 and out["active_jobs"][0]["job_id"] == 5
