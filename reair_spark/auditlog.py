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

The source is a reader, not a loop: ``events.run_incremental`` polls it
exactly as it polls a static events table (the reference's layering —
AuditLogReader feeding ReplicationServer.java:348-506), so the
checkpoint, pause flag, restart re-queue, page size and DB watchdog are
the loop's, shared by both sources::

    run_incremental(spark, JdbcAuditLogSource(url, properties=props),
                    src_root, dest_root, state_dir, batch_size=200)

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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# AuditLogReader.java:202-204 — command types that never replicate
SKIPPED_COMMANDS = ("SHOWTABLES", "SHOWPARTITIONS", "SWITCHDATABASE")


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
        ident_quote: str = '"',
        stability_retries: int = 2,
    ):
        self.url = url
        self.properties = properties or {}
        self.audit_table = audit_table
        self.objects_table = objects_table
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

    def read_batch(
        self, spark: SparkSession, last_id: int, batch_size: int
    ) -> tuple[DataFrame, list[int]] | None:
        """One id-ordered page of at most ``batch_size`` entries after
        ``last_id``, as ``(batch, ids)``; None when the tail is
        drained. Applies the uncommitted-id re-read guard (see module
        docstring).

        The entries are snapshotted with ONE query execution (a JDBC
        DataFrame re-runs its query per action, so acting on it twice
        could see two different database states — the exact hazard the
        guard exists to detect); the page is bounded by ``batch_size``,
        so the driver-side collect is a few hundred metadata rows, and
        the ids it returns cost the loop no further job."""
        for _ in range(max(1, self.stability_retries)):
            rows = self._jdbc(
                spark, self._entries_sql(last_id, batch_size)
            ).collect()
            if not rows:
                return None
            ids = [int(r["id"]) for r in rows]
            hi = max(ids)
            if self._count_between(spark, last_id, hi) == len(rows):
                break
            # a lower-id row committed between the two reads: re-fetch
        from reair_spark.io import rows_df

        entries = rows_df(
            spark,
            rows,
            "id long, create_time timestamp, command_type string, command string",
        )
        return self._attach_objects(spark, entries, last_id, hi), ids

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
    watchdog limit — ``events.run_incremental`` gives up so a
    supervisor can restart the process with a fresh driver/connection
    state (the reference's DbConnectionWatchdog
    db/DbConnectionWatchdog.java:38-63 runs a SELECT-1 probe thread and
    System.exit(-1)s on the same condition; a raise is the
    library-shaped equivalent of killing the server)."""
