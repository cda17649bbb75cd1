"""Incremental mode: audit-event stream → replication jobs → execution.

Port of the reference's incremental pipeline (incremental/
ReplicationServer.java:348-506 loop + ReplicationJobFactory.java:
486-721 compile step) on DataFrames:

- event source: the flattened audit log (FIXTURES.md B.4 — one row per
  entry with an ``objects`` array, the pre-joined form of
  audit_log ⟕ audit_objects, AuditLogReader.java:239-254). Batches are
  ``id > checkpoint ORDER BY id LIMIT n`` (ST1/ST2/W2), polled from a
  static events table or a JDBC tail (``auditlog.JdbcAuditLogSource``)
  by the one loop, :func:`run_incremental`.
- compile: filter chain (F2-F4) → per-entry classification
  (COPY/DROP/RENAME by command type + rename detection by
  RENAME_FROM/input≠output, ReplicationJobFactory:585-620) → dynamic-
  partition batching (>1 partitions of one table in one entry → ONE
  COPY_PARTITIONS job, :660-663) — all with higher-order array
  functions (``filter(objects, o -> …)`` lambdas), one explode, no
  Python UDFs. Each projection is SQL text, so building the compile
  costs one py4j round-trip per projection, not one per column node.
- exchange-partition workaround: the Hive bug (HIVE-12865) loses
  outputs for EXCHANGE_PARTITION, so the reference regex-parses the
  SQL text (ExchangePartitionParser.java:19-52); ours is the same
  regex as `regexp_extract` columns, applied to every
  EXCHANGEPARTITION entry.
- execute (:func:`replicate_batch`, the one batch step the loop and
  the streaming sink share): each job re-reads CURRENT source state
  and goes through the batch primitives (diff → copy → commit), so
  replays and out-of-order deliveries converge (ST4/ST7 idempotence +
  TLDT guards). Renames are CAS: dest-at-old-name with matching TLDT →
  rename; else fall back to copy-at-new-name
  (RenameTableTask.java:119-171).

At scale the compile step is pure DataFrame work (shuffle ∝ events,
not data); execution fans out per job batch through the same
partition-parallel copy/commit stages as batch mode.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from reair_spark.auditlog import DbWatchdogExpired
from reair_spark.catalog import DirectoryCatalog
from reair_spark.filters import replicating_commands, sql_str
from reair_spark.replicate import replicate_warehouse
from reair_spark.state import JobStore, KeyValueStore

LAST_PERSISTED_ID = "last_persisted_id"

# ExchangePartitionParser.java:19-52's regex, PCRE-ized
EXCHANGE_RE = (
    r"(?i)ALTER\s+TABLE\s+(\S+)\s+EXCHANGE\s+PARTITION\s*"
    r"\((.*)\)\s+WITH\s+TABLE\s+(\S+)"
)
# its partition-spec group → partition name: "ds='1', hr=2" → ds=1/hr=2
SPEC_SEP_RE = r"\s*,\s*"
SPEC_KV_RE = r"\s*=\s*'?([^',/]+)'?"


def compile_jobs(events: DataFrame) -> DataFrame:
    """Audit entries → one job row per replication action (ST5)."""
    ev = replicating_commands(events)

    outputs = "filter(objects, o -> o.category = 'OUTPUT')"
    rename_from = "filter(objects, o -> o.category = 'RENAME_FROM')"

    base = ev.selectExpr(
        "id",
        "create_time",
        "command_type",
        "command",
        f"filter({outputs}, o -> o.obj_type = 'TABLE') AS out_tables",
        f"filter({outputs}, o -> o.obj_type = 'PARTITION') AS out_parts",
        f"{rename_from} AS rename_from",
        "command_type IN ('DROPTABLE', 'THRIFT_DROP_TABLE') AS is_drop",
        "command_type IN ('DROPPARTITION', 'THRIFT_DROP_PARTITION') AS is_drop_part",
        f"size({rename_from}) > 0 AS is_rename",
        "command_type = 'EXCHANGEPARTITION' AS is_exchange",
    )

    # --- table-level jobs -------------------------------------------------
    table_jobs = (
        base.where("size(out_tables) > 0 AND NOT is_exchange")
        .selectExpr(
            "id",
            "is_drop",
            "is_rename",
            "explode(out_tables) AS obj",
            # try_: empty array under ANSI mode must yield NULL, not throw
            "try_element_at(rename_from, 1) AS from_obj",
        )
        .selectExpr(
            "id AS src_event_id",
            "CASE WHEN is_drop THEN 'DROP_TABLE'"
            " WHEN is_rename THEN 'RENAME_TABLE'"
            " WHEN get_json_object(obj.payload, '$.partition_keys[0]') IS NOT NULL"
            " THEN 'COPY_PARTITIONED_TABLE'"
            " ELSE 'COPY_UNPARTITIONED_TABLE' END AS operation",
            # on rename the job key is the OLD name; new name rides along
            "coalesce(split_part(from_obj.name, '.', 1),"
            " split_part(obj.name, '.', 1)) AS db",
            "coalesce(split_part(from_obj.name, '.', 2),"
            " split_part(obj.name, '.', 2)) AS `table`",
            "CAST(array() AS array<string>) AS partition_names",
            "CASE WHEN is_rename THEN split_part(obj.name, '.', 1) END"
            " AS rename_to_db",
            "CASE WHEN is_rename THEN split_part(obj.name, '.', 2) END"
            " AS rename_to_table",
        )
    )

    # --- partition-level jobs, dynamic-partition batched ------------------
    # 'db.table/ds=1/hr=2' → table part + partition part
    ptable = "regexp_extract(obj.name, '^([^/]+)/', 1)"
    part_rows = (
        base.where("size(out_parts) > 0 AND NOT is_exchange")
        .selectExpr("id", "is_drop_part", "explode(out_parts) AS obj")
        .selectExpr(
            "id",
            "is_drop_part",
            f"split_part({ptable}, '.', 1) AS db",
            f"split_part({ptable}, '.', 2) AS `table`",
            "regexp_extract(obj.name, '^[^/]+/(.*)$', 1) AS partition_name",
        )
    )
    part_jobs = (
        part_rows.groupBy("id", "is_drop_part", "db", "table")
        .agg(F.expr("array_sort(collect_list(partition_name)) AS partition_names"))
        .selectExpr(
            "id AS src_event_id",
            "CASE WHEN is_drop_part THEN 'DROP_PARTITION'"
            " WHEN size(partition_names) > 1 THEN 'COPY_PARTITIONS'"  # ST5 dyn-part batch
            " ELSE 'COPY_PARTITION' END AS operation",
            "db",
            "`table`",
            "partition_names",
            "CAST(NULL AS STRING) AS rename_to_db",
            "CAST(NULL AS STRING) AS rename_to_table",
        )
    )

    # --- exchange-partition workaround (X7) -------------------------------
    def exchange_group(i: int) -> str:
        return f"regexp_extract(command, {sql_str(EXCHANGE_RE)}, {i})"

    ex_jobs = base.where("is_exchange").selectExpr(
        "id AS src_event_id",
        "'COPY_PARTITION' AS operation",
        f"split_part({exchange_group(3)}, '.', 1) AS db",
        f"split_part({exchange_group(3)}, '.', 2) AS `table`",
        "array(regexp_replace(regexp_replace("
        f"{exchange_group(2)}, {sql_str(SPEC_SEP_RE)}, '/'),"
        f" {sql_str(SPEC_KV_RE)}, '=$1')) AS partition_names",
        "CAST(NULL AS STRING) AS rename_to_db",
        "CAST(NULL AS STRING) AS rename_to_table",
    )

    jobs = table_jobs.unionByName(part_jobs).unionByName(ex_jobs)
    return jobs.selectExpr(
        "*",
        "src_event_id * 1000 + pmod(xxhash64(operation, db, `table`), 1000)"
        " AS job_id",
        "'PENDING' AS status",
    )


def _execute_rename(src_cat, dest_cat, job) -> None:
    """RenameTableTask semantics: CAS rename, else copy-fallback
    handled by the follow-up targeted replication."""
    old = dest_cat.get_table(job["db"], job["table"])
    src_new = src_cat.get_table(job["rename_to_db"], job["rename_to_table"])
    if old is not None and src_new is not None:
        dest_cat.rename_table(
            job["db"], job["table"], job["rename_to_db"], job["rename_to_table"]
        )
        rec = dict(src_new)
        rec["location"] = dest_cat.table_location(rec["db"], rec["table"])
        dest_cat.alter_table(rec)


class _metadata_scale_conf:
    """Conf context for TARGETED replication: the object set is
    bounded by one audit batch (≤ batch_size tables — metadata-scale
    by construction), where AQE's per-exchange re-planning costs a
    scheduler round-trip per stage and 32-wide shuffles schedule 32
    tasks to move 25 rows — measured r10: the targeted loop's plan
    stages drop 37 → 8 Spark jobs with AQE off and a narrow fixed
    width, at identical results. Whole-stage codegen and constraint
    propagation are compile-time costs paid per stage/per join that
    can never pay off on 25-row stages (janino compile alone ~0.1 s ×
    stages), so they're off too. Warehouse-SCALE replication (the
    batch CLI path) keeps the defaults: there the inputs are unbounded
    and AQE/codegen earn their overheads. Copy parallelism is
    unaffected either way (execute_copies sizes tasks by data volume,
    A8). Restores the caller's conf on exit, exceptions included."""

    _SET = (
        ("spark.sql.adaptive.enabled", "false"),
        ("spark.sql.codegen.wholeStage", "false"),
        ("spark.sql.constraintPropagation.enabled", "false"),
    )

    def __init__(self, spark: SparkSession, partitions: int = 4):
        self.spark = spark
        self.partitions = partitions

    def __enter__(self):
        keys = [k for k, _ in self._SET] + ["spark.sql.shuffle.partitions"]
        self.saved = [(k, self.spark.conf.get(k)) for k in keys]
        for k, v in self._SET:
            self.spark.conf.set(k, v)
        self.spark.conf.set(
            "spark.sql.shuffle.partitions", str(self.partitions)
        )

    def __exit__(self, *exc):
        for k, v in self.saved:
            self.spark.conf.set(k, v)
        return False


def execute_job_rows(
    spark: SparkSession, job_rows: list, src_root: str, dest_root: str
) -> list:
    """Run already-collected compiled jobs against current source
    state.

    Renames apply their CAS first (driver-side — rename is metadata-
    only and rare); everything else converges through one targeted
    batch replication over the affected (db, table) set, which
    re-reads current src state so stale/duplicate events are no-ops
    (ST7). Returns the rows with their terminal status."""
    src_cat, dest_cat = DirectoryCatalog(src_root), DirectoryCatalog(dest_root)
    for j in job_rows:
        if j["operation"] == "RENAME_TABLE":
            _execute_rename(src_cat, dest_cat, j)

    touched = {(j["db"], j["table"]) for j in job_rows}
    touched |= {
        (j["rename_to_db"], j["rename_to_table"])
        for j in job_rows
        if j["rename_to_table"]
    }
    done = [
        {**(dict(j) if isinstance(j, dict) else j.asDict()),
         "status": "SUCCESSFUL"}
        for j in job_rows
    ]
    if not touched:
        return done
    # restrict the batch primitives to the touched tables (targeted
    # replication: snapshot/diff/copy/commit only what the events name)
    import re as _re

    whitelist = [
        (_re.escape(d), _re.escape(t)) for d, t in sorted(touched) if d and t
    ]
    with _metadata_scale_conf(spark):
        replicate_warehouse(spark, src_root, dest_root, whitelist=whitelist)
    return done


def replicate_batch(
    spark: SparkSession,
    job_store: JobStore,
    events: DataFrame,
    src_root: str,
    dest_root: str,
) -> None:
    """One ReplicationServer batch step — the only one: the polled
    loop (:func:`run_incremental`, static table or JDBC tail) and the
    streaming sink (``streaming.stream_replicate``, Kafka included)
    all run it.

    The compiled batch is metadata-scale by construction (≤ one audit
    page of events), so its rows come to the driver in ONE collect
    that feeds all three consumers: the PENDING append, execution and
    the terminal append. Both appends are driver-side pyarrow
    micro-writes. The crash windows are the reference's: PENDING lands
    durably before execution, the terminal transitions after."""
    job_rows = compile_jobs(events).select(*_job_cols()).collect()
    job_store.append_rows(job_rows)
    job_store.append_rows(
        execute_job_rows(spark, job_rows, src_root, dest_root)
    )


class _TableSource:
    """A static events table as a polled source: each page is
    ``id > last_id ORDER BY id LIMIT n`` (ST1/ST2/W2). The page's ids
    come to the driver in one collect; the events stay lazy for the
    compile step."""

    def __init__(self, events: DataFrame):
        self.events = events

    def read_batch(
        self, spark: SparkSession, last_id: int, batch_size: int
    ) -> tuple[DataFrame, list[int]] | None:
        batch = (
            self.events.filter(F.col("id") > last_id)
            .orderBy("id")
            .limit(batch_size)
        )
        ids = [r["id"] for r in batch.select("id").collect()]
        return (batch, ids) if ids else None


def run_incremental(
    spark: SparkSession,
    events,
    src_root: str,
    dest_root: str,
    state_dir: str,
    batch_size: int = 32,
    max_batches: int | None = None,
    start_after_id: int | None = None,
    watchdog_limit_s: float = 10.0,
    watchdog_retry_s: float = 0.5,
) -> dict:
    """The ReplicationServer.run loop: resume from checkpoint, poll
    id-ordered batches, compile, persist job state, execute, advance
    checkpoint (ST1-ST4).

    ``events`` is the polled source — the seat of the reference's
    AuditLogReader (ReplicationServer.java:348-506): a static events
    DataFrame, or any object whose ``read_batch(spark, last_id,
    batch_size)`` returns ``(batch, ids)`` — the page's events and
    their ids — or None once drained, such as
    :class:`reair_spark.auditlog.JdbcAuditLogSource` over the
    reference's MySQL audit tables. The loop owns the page size.

    ``start_after_id`` is the operator override after a bad deploy
    (ReplicationLauncher.java:276-279 ``--start-after-id`` sets
    resetState): every persisted non-terminal job is marked ABORTED —
    not re-executed (PersistedJobInfoStore.abortRunnableFromDb:107-117)
    — and the loop resumes from the override instead of the persisted
    checkpoint; the checkpoint is rewritten so a later un-overridden
    restart stays at the forced position.

    DB watchdog: a failed ``read_batch`` retries after
    ``watchdog_retry_s``; a CONSECUTIVE failure streak longer than
    ``watchdog_limit_s`` raises ``DbWatchdogExpired`` so a supervisor
    restarts the process (checkpointed state makes the restart a no-op
    replay). The clock starts at the first failure of the streak — not
    at the last success — so a batch whose compile/execute takes longer
    than the limit doesn't turn one transient error into an instant
    kill (the reference's DbConnectionWatchdog,
    db/DbConnectionWatchdog.java:38-63, times consecutive probe
    failures the same way). Job state writes are NOT guarded — losing
    the state store is a real failure, not a blip."""
    source = _TableSource(events) if isinstance(events, DataFrame) else events
    kv = KeyValueStore(f"{state_dir}/key_value.json")
    job_store = JobStore(spark, f"{state_dir}/replication_jobs")

    if start_after_id is not None:
        abort_inflight(job_store)
        last_id = int(start_after_id)
        kv.set(LAST_PERSISTED_ID, str(last_id))
    else:
        # restart: re-queue persisted non-terminal jobs (ST4). A fresh
        # store (every FIRST run) has nothing to re-queue — the driver
        # path probe skips the scan without an empty-relation job.
        if job_store.exists():
            pending = job_store.incomplete().select(*_job_cols()).collect()
            if pending:
                job_store.append_rows(
                    execute_job_rows(spark, pending, src_root, dest_root)
                )
        last_id = int(kv.get(LAST_PERSISTED_ID, "0") or 0)
    batches = 0
    first_fail: float | None = None  # start of the current failure streak
    while max_batches is None or batches < max_batches:
        # pause/resume parity (reair.thrift pause/resume, served by
        # monitor.serve_monitor): the flag lives in the same KV file
        # as the checkpoint, so an operator can pause a crashed-and-
        # restarted loop before it resumes work
        if (kv.get("paused", "") or "").lower() == "true":
            break
        try:
            page = source.read_batch(spark, last_id, batch_size)
        except Exception as ex:  # noqa: BLE001 — any source/driver error
            now = time.monotonic()
            if first_fail is None:
                first_fail = now
            if now - first_fail > watchdog_limit_s:
                raise DbWatchdogExpired(
                    f"audit DB unreachable for > {watchdog_limit_s}s "
                    f"(last error: {type(ex).__name__}: {ex})"
                ) from ex
            time.sleep(watchdog_retry_s)
            continue
        first_fail = None
        if page is None:
            break
        batch, ids = page
        replicate_batch(spark, job_store, batch, src_root, dest_root)
        last_id = int(max(ids))
        kv.set(LAST_PERSISTED_ID, str(last_id))
        batches += 1
        if len(ids) < batch_size:
            # a short page: the source is drained — skip the would-be-
            # empty probe (a live tail re-polls by re-invocation;
            # AuditLogReader.java's fetch-size paging has the same
            # short-page termination)
            break
    # A6 counters + A7 lag gauge in one log pass (ask-#8 discipline:
    # the old current→counts + current→join→lag exit cost four jobs)
    status_counts, lag = job_store.status_summary()
    return {
        "last_id": last_id,
        "batches": batches,
        "job_store": job_store,
        "job_status_counts": status_counts,
        "lag_seconds": lag,
    }


def abort_inflight(job_store) -> int:
    """Mark every persisted non-terminal job ABORTED (terminal, never
    re-executed) — the reset path `--start-after-id` triggers
    (PersistedJobInfoStore.abortRunnableFromDb:107-117: one UPDATE over
    status NOT IN terminal). Returns the number of jobs aborted."""
    pending = job_store.incomplete().select(*_job_cols()).collect()
    job_store.append_rows([{**r.asDict(), "status": "ABORTED"} for r in pending])
    return len(pending)


def _job_cols() -> list[str]:
    return [
        "job_id",
        "operation",
        "status",
        "db",
        "table",
        "partition_names",
        "rename_to_db",
        "rename_to_table",
        "src_event_id",
    ]
