"""JDBC audit-log source — parity with the reference's incremental-mode
MySQL reader (incremental/auditlog/AuditLogReader.java:199-225).

The reference tails two MySQL tables written by its Hive hooks:
``audit_log`` (id, create_time, command_type, command) and
``audit_objects`` (audit_log_id, category, type, name, serialized
Thrift JSON), polling ``id > lastReadId ORDER BY id LIMIT n`` with the
non-replicating command types filtered in SQL
(AuditLogReader.java:202-204) and grouping the N object rows of each
audit id into one entry (:228-412). This module reproduces that shape
over ``spark.read.jdbc`` and emits the engine's flattened event frame
(one row per entry with an ``objects`` array — FIXTURES.md B.4), so
``events.compile_jobs`` consumes a JDBC tail and a parquet/Kafka table
identically.

Uncommitted-id guard: MySQL auto-increment ids can become visible out
of order (a transaction holding id=100 may commit after id=101 is
already readable), so a reader that advances its checkpoint past a gap
loses the late-committing row. The reference closes the gap by reading
``LOCK IN SHARE MODE`` (AuditLogReader.java:207-212), which blocks
until in-flight lower-id transactions commit. A generic JDBC source
cannot assume that lock, so :meth:`JdbcAuditLogSource.read_batch`
emulates it by re-reading the id range after the batch: if the row
count over ``(checkpoint, batch_max]`` changed between the two reads, a
lower-id row committed mid-read and the batch is re-fetched (bounded
retries). The residual exposure — a row committing after the LAST
re-read with an id below the advanced checkpoint — is the exact window
the MySQL lock closes; deployments needing zero exposure point the
source at a read-committed replica with ordered apply, or keep the
reference's lock by passing ``sessionInitStatement``.

Scale shape: the tail poll is deliberately a single-partition read —
batches are bounded (hundreds of rows) metadata, and ORDER BY + FETCH
FIRST pushes down to the database, so there is nothing to
parallelize. Backfills over a large id range go through
:meth:`read_range`, a partitioned JDBC read (numPartitions concurrent
cursors over id strides) — the standard Spark JDBC split.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# AuditLogReader.java:202-204 — command types that never replicate
SKIPPED_COMMANDS = ("SHOWTABLES", "SHOWPARTITIONS", "SWITCHDATABASE")
DEFAULT_BATCH = 200  # AuditLogReader.java:41 fetch size


class JdbcAuditLogSource:
    """Micro-batch tail reader over the audit tables of any JDBC
    database (tested against embedded Derby; MySQL deployments pass
    ``ident_quote='`'`` and their driver class in ``properties``)."""

    def __init__(
        self,
        url: str,
        properties: dict | None = None,
        audit_table: str = "audit_log",
        objects_table: str = "audit_objects",
        batch_size: int = DEFAULT_BATCH,
        ident_quote: str = '"',
        stability_retries: int = 2,
    ):
        self.url = url
        self.properties = properties or {}
        self.audit_table = audit_table
        self.objects_table = objects_table
        self.batch_size = batch_size
        self.q = ident_quote
        self.stability_retries = stability_retries

    def _col(self, name: str) -> str:
        return f"{self.q}{name}{self.q}"

    def _skip_pred(self) -> str:
        inlist = ", ".join(f"'{c}'" for c in SKIPPED_COMMANDS)
        return f"{self._col('command_type')} NOT IN ({inlist})"

    def _jdbc(self, spark: SparkSession, subquery: str) -> DataFrame:
        return spark.read.jdbc(self.url, f"({subquery}) t", properties=self.properties)

    def _entries_sql(self, last_id: int, limit: int | None) -> str:
        cols = ", ".join(
            self._col(c) for c in ("id", "create_time", "command_type", "command")
        )
        sql = (
            f"SELECT {cols} FROM {self.audit_table} "
            f"WHERE {self._col('id')} > {int(last_id)} AND {self._skip_pred()} "
            f"ORDER BY {self._col('id')}"
        )
        if limit is not None:
            sql += f" FETCH FIRST {int(limit)} ROWS ONLY"
        return sql

    def _count_between(self, spark: SparkSession, lo: int, hi: int) -> int:
        sql = (
            f"SELECT COUNT(*) AS n FROM {self.audit_table} "
            f"WHERE {self._col('id')} > {int(lo)} AND {self._col('id')} <= {int(hi)} "
            f"AND {self._skip_pred()}"
        )
        return int(self._jdbc(spark, sql).first()[0])

    def _attach_objects(self, spark: SparkSession, entries: DataFrame, lo: int, hi: int) -> DataFrame:
        ocols = ", ".join(
            self._col(c)
            for c in ("audit_log_id", "category", "obj_type", "name", "payload")
        )
        objs = self._jdbc(
            spark,
            f"SELECT {ocols} FROM {self.objects_table} "
            f"WHERE {self._col('audit_log_id')} > {int(lo)} "
            f"AND {self._col('audit_log_id')} <= {int(hi)}",
        )
        grouped = objs.groupBy("audit_log_id").agg(
            F.collect_list(
                F.struct("category", "obj_type", "name", "payload")
            ).alias("objects")
        )
        return (
            entries.join(grouped, entries.id == grouped.audit_log_id, "left")
            .drop("audit_log_id")
            .withColumn(
                "objects",
                F.coalesce(
                    "objects",
                    F.array().cast(
                        "array<struct<category:string, obj_type:string, "
                        "name:string, payload:string>>"
                    ),
                ),
            )
            .select("id", "create_time", "command_type", "command", "objects")
        )

    def read_batch(self, spark: SparkSession, last_id: int) -> DataFrame | None:
        """One id-ordered micro-batch after ``last_id``; None when the
        tail is drained. Applies the uncommitted-id re-read guard (see
        module docstring).

        The batch is snapshotted with ONE query execution (a JDBC
        DataFrame re-runs its query per action, so acting on it twice
        could see two different database states — the exact hazard the
        guard exists to detect); it is bounded by ``batch_size``, so
        the driver-side collect is a few hundred metadata rows."""
        for _ in range(max(1, self.stability_retries)):
            rows = self._jdbc(
                spark, self._entries_sql(last_id, self.batch_size)
            ).collect()
            if not rows:
                return None
            hi = max(int(r["id"]) for r in rows)
            if self._count_between(spark, last_id, hi) == len(rows):
                break
            # a lower-id row committed between the two reads: re-fetch
        from reair_spark.io import rows_df

        entries = rows_df(
            spark,
            rows,
            "id long, create_time timestamp, command_type string, command string",
        )
        return self._attach_objects(spark, entries, last_id, hi)

    def read_range(
        self, spark: SparkSession, lo: int, hi: int, num_partitions: int = 8
    ) -> DataFrame:
        """Backfill path: partitioned JDBC read over (lo, hi] — one
        concurrent cursor per id stride, the shape a multi-billion-row
        audit backlog needs (the tail poll stays single-cursor)."""
        cols = ", ".join(
            self._col(c) for c in ("id", "create_time", "command_type", "command")
        )
        entries = spark.read.jdbc(
            self.url,
            f"(SELECT {cols} FROM {self.audit_table} "
            f"WHERE {self._skip_pred()}) t",
            column="id",
            lowerBound=max(lo, 0) + 1,
            upperBound=max(hi, lo + 1),
            numPartitions=num_partitions,
            properties=self.properties,
        ).where((F.col("id") > lo) & (F.col("id") <= hi))
        return self._attach_objects(spark, entries, lo, hi)


def write_events_to_jdbc(
    events: DataFrame,
    url: str,
    properties: dict | None = None,
    audit_table: str = "audit_log",
    objects_table: str = "audit_objects",
    mode: str = "append",
) -> None:
    """Flatten the engine's event frame back into the two audit tables
    — the test/producer-side shim (the reference's hook writes these
    rows transactionally; hive-hooks/.../CliAuditLogHook.java:95-117).

    Explicit VARCHAR column types mirror the reference DDL
    (hive-hooks/src/main/resources/audit_log_core.sql): Spark's
    default string mapping on some dialects (Derby: CLOB) cannot be
    compared with literals, which would break the source's pushed-down
    command-type filter."""
    props = properties or {}

    def w(df: DataFrame, table: str, coltypes: str) -> None:
        writer = df.write.format("jdbc").mode(mode).options(
            url=url, dbtable=table, createTableColumnTypes=coltypes, **props
        )
        writer.save()

    w(
        events.select("id", "create_time", "command_type", "command"),
        audit_table,
        "command_type VARCHAR(64), command VARCHAR(4000)",
    )
    w(
        events.select(F.col("id").alias("audit_log_id"), F.explode("objects").alias("o"))
        .select("audit_log_id", "o.category", "o.obj_type", "o.name", "o.payload"),
        objects_table,
        "category VARCHAR(64), obj_type VARCHAR(64), "
        "name VARCHAR(800), payload VARCHAR(4000)",
    )


class DbWatchdogExpired(RuntimeError):
    """Raised when the audit-DB has been unreachable longer than the
    watchdog limit — the loop gives up so a supervisor can restart the
    process with a fresh driver/connection state (the reference's
    DbConnectionWatchdog db/DbConnectionWatchdog.java:38-63 runs a
    SELECT-1 probe thread and System.exit(-1)s on the same condition;
    a raise is the library-shaped equivalent of killing the server)."""


def run_incremental_jdbc(
    spark: SparkSession,
    source: JdbcAuditLogSource,
    src_root: str,
    dest_root: str,
    state_dir: str,
    max_batches: int | None = None,
    start_after_id: int | None = None,
    watchdog_limit_s: float = 10.0,
    watchdog_retry_s: float = 0.5,
) -> dict:
    """The ReplicationServer.run loop (ST1-ST4) fed by the JDBC tail:
    resume from checkpoint, poll id-ordered batches, compile, persist
    job state, execute, advance checkpoint. Identical semantics to
    events.run_incremental over a static table — only the source
    differs, which is the reference's own layering
    (AuditLogReader feeding ReplicationServer.java:348-506).

    ``start_after_id``: operator override after a bad deploy
    (ReplicationLauncher.java:276-279) — abort persisted in-flight
    jobs (ABORTED, never re-executed) and force the resume point."""
    from reair_spark.events import (
        LAST_PERSISTED_ID,
        _job_cols,
        abort_inflight,
        compile_jobs,
        execute_jobs,
    )
    from reair_spark.state import JobStore, KeyValueStore

    kv = KeyValueStore(f"{state_dir}/key_value.json")
    job_store = JobStore(spark, f"{state_dir}/replication_jobs")

    if start_after_id is not None:
        abort_inflight(job_store)
        last_id = int(start_after_id)
        kv.set(LAST_PERSISTED_ID, str(last_id))
    else:
        pending = job_store.incomplete()
        if pending.count() > 0:
            executed = execute_jobs(spark, pending, src_root, dest_root)
            job_store.append(executed.select(*_job_cols()))
        last_id = int(kv.get(LAST_PERSISTED_ID, "0") or 0)
    batches = 0
    first_fail: float | None = None  # start of current failure streak
    while max_batches is None or batches < max_batches:
        # DB watchdog: transient tail-read failures retry with a short
        # sleep; a CONSECUTIVE failure streak longer than
        # watchdog_limit_s raises so the supervisor restarts the
        # process (checkpointed state makes the restart a no-op
        # replay). The clock starts at the first failure of the
        # streak — not at the last success — so a batch whose
        # compile/execute takes longer than the limit doesn't turn a
        # single transient error into an instant kill (the reference
        # DbConnectionWatchdog times consecutive probe failures the
        # same way). Job state writes are NOT guarded — losing the
        # state store is a real failure, not a blip.
        try:
            batch = source.read_batch(spark, last_id)
        except Exception as ex:  # noqa: BLE001 — any JDBC/driver error
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
        if batch is None:
            break
        batch = batch.cache()
        try:
            hi = int(batch.agg(F.max("id")).collect()[0][0])
            jobs = compile_jobs(batch)
            job_store.append(jobs.select(*_job_cols()))
            executed = execute_jobs(spark, jobs, src_root, dest_root)
            job_store.append(executed.select(*_job_cols()))
        finally:
            batch.unpersist()  # a batch that raises must not leak it
        last_id = hi
        kv.set(LAST_PERSISTED_ID, str(last_id))
        batches += 1
    status_counts, lag = job_store.status_summary()  # one log pass
    return {
        "last_id": last_id,
        "batches": batches,
        "job_store": job_store,
        "job_status_counts": status_counts,
        "lag_seconds": lag,
    }
