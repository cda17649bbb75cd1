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
  functions, one explode, no Python UDFs.
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
from reair_spark.filters import replicating_commands
from reair_spark.replicate import replicate_warehouse
from reair_spark.state import JobStore, KeyValueStore

LAST_PERSISTED_ID = "last_persisted_id"

# ExchangePartitionParser.java:19-52's regex, PCRE-ized
EXCHANGE_RE = (
    r"(?i)ALTER\s+TABLE\s+(\S+)\s+EXCHANGE\s+PARTITION\s*"
    r"\((.*)\)\s+WITH\s+TABLE\s+(\S+)"
)


def compile_jobs(events: DataFrame) -> DataFrame:
    """Audit entries → one job row per replication action (ST5)."""
    ev = replicating_commands(events)

    outputs = F.filter(F.col("objects"), lambda o: o["category"] == "OUTPUT")
    rename_from = F.filter(F.col("objects"), lambda o: o["category"] == "RENAME_FROM")

    out_tables = F.filter(outputs, lambda o: o["obj_type"] == "TABLE")
    out_parts = F.filter(outputs, lambda o: o["obj_type"] == "PARTITION")

    is_drop = F.col("command_type").isin("DROPTABLE", "THRIFT_DROP_TABLE")
    is_drop_part = F.col("command_type").isin("DROPPARTITION", "THRIFT_DROP_PARTITION")
    is_rename = F.size(rename_from) > 0
    is_exchange = F.col("command_type") == "EXCHANGEPARTITION"

    base = ev.select(
        "id",
        "create_time",
        "command_type",
        "command",
        out_tables.alias("out_tables"),
        out_parts.alias("out_parts"),
        rename_from.alias("rename_from"),
        is_drop.alias("is_drop"),
        is_drop_part.alias("is_drop_part"),
        is_rename.alias("is_rename"),
        is_exchange.alias("is_exchange"),
    )

    # --- table-level jobs -------------------------------------------------
    table_jobs = (
        base.filter((F.size("out_tables") > 0) & ~F.col("is_exchange"))
        .select(
            "id",
            "is_drop",
            "is_rename",
            F.explode("out_tables").alias("obj"),
            # try_: empty array under ANSI mode must yield NULL, not throw
            F.try_element_at(F.col("rename_from"), F.lit(1)).alias("from_obj"),
        )
        .select(
            F.col("id").alias("src_event_id"),
            F.when(F.col("is_drop"), "DROP_TABLE")
            .when(F.col("is_rename"), "RENAME_TABLE")
            .when(
                F.get_json_object(F.col("obj.payload"), "$.partition_keys[0]").isNotNull(),
                "COPY_PARTITIONED_TABLE",
            )
            .otherwise("COPY_UNPARTITIONED_TABLE")
            .alias("operation"),
            # on rename the job key is the OLD name; new name rides along
            F.coalesce(
                F.split_part(F.col("from_obj.name"), F.lit("."), F.lit(1)),
                F.split_part(F.col("obj.name"), F.lit("."), F.lit(1)),
            ).alias("db"),
            F.coalesce(
                F.split_part(F.col("from_obj.name"), F.lit("."), F.lit(2)),
                F.split_part(F.col("obj.name"), F.lit("."), F.lit(2)),
            ).alias("table"),
            F.array().cast("array<string>").alias("partition_names"),
            F.when(
                F.col("is_rename"), F.split_part(F.col("obj.name"), F.lit("."), F.lit(1))
            ).alias("rename_to_db"),
            F.when(
                F.col("is_rename"), F.split_part(F.col("obj.name"), F.lit("."), F.lit(2))
            ).alias("rename_to_table"),
        )
    )

    # --- partition-level jobs, dynamic-partition batched ------------------
    # 'db.table/ds=1/hr=2' → table part + partition part
    pname = F.regexp_extract(F.col("obj.name"), r"^[^/]+/(.*)$", 1)
    ptable = F.regexp_extract(F.col("obj.name"), r"^([^/]+)/", 1)
    part_rows = (
        base.filter((F.size("out_parts") > 0) & ~F.col("is_exchange"))
        .select("id", "is_drop_part", F.explode("out_parts").alias("obj"))
        .select(
            "id",
            "is_drop_part",
            F.split_part(ptable, F.lit("."), F.lit(1)).alias("db"),
            F.split_part(ptable, F.lit("."), F.lit(2)).alias("table"),
            pname.alias("partition_name"),
        )
    )
    part_jobs = (
        part_rows.groupBy("id", "is_drop_part", "db", "table")
        .agg(F.array_sort(F.collect_list("partition_name")).alias("partition_names"))
        .select(
            F.col("id").alias("src_event_id"),
            F.when(F.col("is_drop_part"), "DROP_PARTITION")
            .when(F.size("partition_names") > 1, "COPY_PARTITIONS")  # ST5 dyn-part batch
            .otherwise("COPY_PARTITION")
            .alias("operation"),
            "db",
            "table",
            "partition_names",
            F.lit(None).cast("string").alias("rename_to_db"),
            F.lit(None).cast("string").alias("rename_to_table"),
        )
    )

    # --- exchange-partition workaround (X7) -------------------------------
    ex_jobs = base.filter(F.col("is_exchange")).select(
        F.col("id").alias("src_event_id"),
        F.lit("COPY_PARTITION").alias("operation"),
        F.split_part(F.regexp_extract("command", EXCHANGE_RE, 3), F.lit("."), F.lit(1)).alias("db"),
        F.split_part(F.regexp_extract("command", EXCHANGE_RE, 3), F.lit("."), F.lit(2)).alias("table"),
        F.array(
            F.regexp_replace(
                F.regexp_replace(F.regexp_extract("command", EXCHANGE_RE, 2), r"\s*,\s*", "/"),
                r"\s*=\s*'?([^',/]+)'?",
                "=$1",
            )
        ).alias("partition_names"),
        F.lit(None).cast("string").alias("rename_to_db"),
        F.lit(None).cast("string").alias("rename_to_table"),
    )

    jobs = table_jobs.unionByName(part_jobs).unionByName(ex_jobs)
    return jobs.withColumn(
        "job_id",
        F.col("src_event_id") * 1000
        + F.pmod(F.xxhash64("operation", "db", "table"), F.lit(1000)),
    ).withColumn("status", F.lit("PENDING"))


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
