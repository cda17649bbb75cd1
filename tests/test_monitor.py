"""HTTP monitoring endpoint (S10 serving side): JSON parity with the
reference's Thrift service + web UI, and REAL pause/resume semantics
through the incremental loop."""

from __future__ import annotations

import json
import urllib.request

import pytest

from reair_spark.monitor import serve_monitor
from reair_spark.state import JobStore, KeyValueStore


def _get(port, path):
    with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}") as r:
        return r.status, json.loads(r.read())


def _post(port, path):
    req = urllib.request.Request(f"http://127.0.0.1:{port}{path}", method="POST")
    with urllib.request.urlopen(req) as r:
        return r.status, json.loads(r.read())


@pytest.fixture()
def seeded_state(spark, tmp_path):
    state = str(tmp_path / "state")
    store = JobStore(spark, f"{state}/replication_jobs")
    jobs = spark.createDataFrame(
        [(1, "COPY_UNPARTITIONED_TABLE", "PENDING", "db", "t1", [], None, None, 10),
         (2, "COPY_PARTITION", "PENDING", "db", "t2", ["ds=1"], None, None, 11)],
        "job_id long, operation string, status string, db string, table string, "
        "partition_names array<string>, rename_to_db string, "
        "rename_to_table string, src_event_id long",
    )
    store.append_rows(jobs.collect())
    store.append_rows(jobs.filter("job_id = 1").replace("PENDING", "SUCCESSFUL", "status").collect())
    KeyValueStore(f"{state}/key_value.json").set("last_persisted_id", "11")
    return state


def test_html_progress_page(spark, seeded_state):
    """GET / serves the human-readable progress page (web UI parity,
    WebServer.java:97): 200, text/html, job counts and the active job
    row present."""
    server = serve_monitor(spark, seeded_state)
    port = server.server_address[1]
    try:
        with urllib.request.urlopen(f"http://127.0.0.1:{port}/") as r:
            assert r.status == 200
            assert r.headers["Content-Type"].startswith("text/html")
            html = r.read().decode()
        assert "Replication status" in html
        assert "<b>1</b>" in html                 # active & retired counts
        assert "PENDING" in html and "SUCCESSFUL" in html
        assert "COPY_PARTITION" in html           # the active job row
        assert "last_persisted_id: <b>11</b>" in html
    finally:
        server.shutdown()


def test_endpoints(spark, seeded_state):
    server = serve_monitor(spark, seeded_state)
    port = server.server_address[1]
    try:
        code, snap = _get(port, "/status")
        assert code == 200
        assert snap["n_active"] == 1 and snap["n_retired"] == 1
        assert snap["last_persisted_id"] == 11

        _, active = _get(port, "/jobs/active")
        assert [j["job_id"] for j in active["jobs"]] == [2]
        _, retired = _get(port, "/jobs/retired")
        assert [j["job_id"] for j in retired["jobs"]] == [1]

        _, lag = _get(port, "/lag")
        assert lag["lag_seconds"] >= 0

        try:
            _get(port, "/nope")
            raise AssertionError("expected 404")
        except urllib.error.HTTPError as e:
            assert e.code == 404
    finally:
        server.shutdown()


def test_pause_resume_stops_incremental_loop(spark, seeded_state, tmp_path):
    """POST /pause must stop run_incremental at the next batch
    boundary — the Thrift pause semantics, not a stub."""
    from reair_spark.events import run_incremental

    server = serve_monitor(spark, seeded_state)
    port = server.server_address[1]
    try:
        _, r = _post(port, "/pause")
        assert r["paused"] is True

        events = spark.createDataFrame(
            [(20, None, "CREATETABLE", "CREATE TABLE db1.tx (a INT)",
              [("OUTPUT", "TABLE", "db1.tx", "{}")])],
            "id long, create_time timestamp, command_type string, command string, "
            "objects array<struct<category:string, obj_type:string, "
            "name:string, payload:string>>",
        )
        res = run_incremental(
            spark, events, str(tmp_path / "s"), str(tmp_path / "d"),
            seeded_state, max_batches=5,
        )
        assert res["batches"] == 0  # paused: no batch consumed
        assert res["last_id"] == 11  # checkpoint untouched

        _, r = _post(port, "/resume")
        assert r["paused"] is False
        res = run_incremental(
            spark, events, str(tmp_path / "s"), str(tmp_path / "d"),
            seeded_state, max_batches=5,
        )
        assert res["batches"] == 1 and res["last_id"] == 20
    finally:
        server.shutdown()


def test_monitor_cli_once(spark, seeded_state, capsys):
    import json as _json

    from reair_spark.__main__ import main

    rc = main(["monitor", seeded_state, "--port", "0", "--once"])
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["port"] > 0 and "/status" in out["endpoints"]


def test_cli_query_runs_registered_query(spark, capsys):
    """`reair_spark query <name>` runs any registry entry and prints
    JSON rows; --list enumerates without starting work; unknown names
    error with close matches."""
    import json

    import pytest

    from reair_spark.__main__ import main

    rc = main(["query", "--list"])
    assert rc == 0
    names = capsys.readouterr().out.split()
    assert "q01_scan_project" in names and len(names) >= 130

    rc = main(["query", "q01_scan_project",
               "--sf-dir", "/root/testdata/sf0.001", "--limit", "2"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out)
    assert out["query"] == "q01_scan_project" and out["n_printed"] == 2

    with pytest.raises(SystemExit):
        main(["query", "definitely_not_a_query"])


def _mk_jobs(spark, rows):
    return spark.createDataFrame(
        rows,
        "job_id long, operation string, status string, db string, "
        "table string, partition_names array<string>, rename_to_db string, "
        "rename_to_table string, src_event_id long",
    )


def test_jobstore_compact_preserves_current_state(spark, tmp_path):
    """compact() rewrites the transition log to one row per job with
    identical current() output, preserves max seq (post-compaction
    appends keep winning last-writer-wins), and removes the retry
    history (row count drops to |jobs|)."""
    store = JobStore(spark, str(tmp_path / "jobs"))
    # 3 jobs × several transitions each
    store.append_rows(_mk_jobs(spark, [
        (1, "COPY_UNPARTITIONED_TABLE", "PENDING", "db", "t1", [], None, None, 10),
        (2, "COPY_PARTITION", "PENDING", "db", "t2", ["ds=1"], None, None, 11),
        (3, "DROP_TABLE", "PENDING", "db", "t3", [], None, None, 12),
    ]).collect())
    store.append_rows(_mk_jobs(spark, [
        (1, "COPY_UNPARTITIONED_TABLE", "RUNNING", "db", "t1", [], None, None, 10),
        (2, "COPY_PARTITION", "SUCCESSFUL", "db", "t2", ["ds=1"], None, None, 11),
    ]).collect())
    store.append_rows(_mk_jobs(spark, [
        (1, "COPY_UNPARTITIONED_TABLE", "FAILED", "db", "t1", [], None, None, 10),
    ]).collect())
    before = {(r.job_id, r.status) for r in store.current().collect()}
    assert before == {(1, "FAILED"), (2, "SUCCESSFUL"), (3, "PENDING")}
    raw_before = spark.read.parquet(store.path).count()
    assert raw_before == 6

    n = store.compact()
    assert n == 3
    assert spark.read.parquet(store.path).count() == 3
    after_store = JobStore(spark, store.path)  # fresh instance re-reads seq
    assert {(r.job_id, r.status) for r in after_store.current().collect()} \
        == before
    assert after_store._seq >= 3  # max seq survived the rewrite

    # post-compaction append still wins for job 3
    after_store.append_rows(_mk_jobs(spark, [
        (3, "DROP_TABLE", "SUCCESSFUL", "db", "t3", [], None, None, 12),
    ]).collect())
    assert {(r.job_id, r.status) for r in after_store.current().collect()} \
        == {(1, "FAILED"), (2, "SUCCESSFUL"), (3, "SUCCESSFUL")}


def test_jobstore_compact_drop_terminal_keeps_only_inflight(spark, tmp_path):
    store = JobStore(spark, str(tmp_path / "jobs"))
    store.append_rows(_mk_jobs(spark, [
        (1, "COPY_PARTITION", "SUCCESSFUL", "db", "t1", [], None, None, 1),
        (2, "COPY_PARTITION", "PENDING", "db", "t2", [], None, None, 2),
    ]).collect())
    assert store.compact(keep_terminal=False) == 1
    cur = store.current().collect()
    assert [(r.job_id, r.status) for r in cur] == [(2, "PENDING")]

    # all-terminal → compact removes the log; store reads as empty
    store.append_rows(_mk_jobs(spark, [
        (2, "COPY_PARTITION", "SUCCESSFUL", "db", "t2", [], None, None, 2),
    ]).collect())
    assert store.compact(keep_terminal=False) == 0
    import os

    assert not os.path.exists(store.path)
    assert store.current().count() == 0
