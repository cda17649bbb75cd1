"""Metadata commit phase: apply the action plan to the dest catalog.

Spark mapping of stage 3 (batch/hive/Stage3CommitChangeMapper.java:
72-168) plus the incremental task primitives (CopyUnpartitionedTable
Task/CopyPartitionTask/DropTableTask/DropPartitionTask):

- per-(db, table) ordering WITHOUT a lock manager: the plan is
  repartitioned on (db, table) so exactly one task owns all of a
  table's DDL, applied in deterministic partition-name order — this
  replaces the reference's 520-LoC shared/exclusive lock DAG
  (utils/.../multiprocessing/JobDagManager.java:136-226) per SURVEY §4.
- idempotent tasks with TLDT compare-and-swap guards on destructive
  ops (DropTableTask.java:68-82, DropPartitionTask.java:56-86): a drop
  only fires if the dest object still carries the expected version.
- location rewrite src-root → dest-root (DestinationObjectFactory
  .modifyLocation:49-77) happens here, as a column transform.
- per-row failures are recorded, not fatal (Stage3CommitChangeMapper
  .java:164-167).

Results return as a DataFrame of (db, table, partition_name, action,
status, error).
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from collections.abc import Callable

from reair_spark.catalog import TLDT, DirectoryCatalog, MetastoreCatalog
from reair_spark.filters import sql_str

COMMIT_RESULT_SCHEMA = T.StructType(
    [
        T.StructField("db", T.StringType()),
        T.StructField("table", T.StringType()),
        T.StructField("partition_name", T.StringType()),
        T.StructField("action", T.StringType()),
        T.StructField("status", T.StringType()),  # SUCCESSFUL | NOT_COMPLETABLE | FAILED
        T.StructField("error", T.StringType()),
    ]
)


def rewrite_locations(plan: DataFrame, src_root: str, dest_root: str) -> DataFrame:
    """F8 location rewrite: same relative path under the dest root.

    A src location OUTSIDE the src warehouse root — the reference's
    cross-warehouse case (e.g. table data rooted on ``s3://``/
    ``hdfs://`` while the warehouse root is elsewhere;
    ReplicationUtils' destination = dest root + db/table layout) can't
    prefix-rewrite; it lands at ``dest_root/db/table[/partition]``.
    Without this branch dest_path would equal src_path, the copy would
    self-skip, and the dest catalog would point at SOURCE data.

    In-root means a TRUE DESCENDANT of ``src_root`` (or the root
    itself): the test matches on ``src_root.rstrip('/') + '/'`` so a
    sibling-prefixed path (src_root=/data/wh vs /data/wh_archive/…)
    routes through the derived branch instead of being prefix-mangled
    to ``dest_root + '_archive/…'``.  The rewrite itself is built with
    ``concat`` + ``substring`` — NOT ``regexp_replace`` — so a
    dest_root containing ``$`` or ``\\`` is copied literally rather
    than being interpreted as a Java-regex group reference. The whole
    rewrite is one SQL expression (one JVM round-trip to build)."""
    root = src_root.rstrip("/")
    dest = sql_str(dest_root)
    # dest_root + the suffix of src_path after the root — pure string
    # concat, no regex replacement semantics anywhere. The derived
    # branch's concat_ws skips a NULL partition_name (table rows).
    return plan.withColumn(
        "dest_path",
        F.expr(
            "CASE WHEN dest_path IS NOT NULL OR src_path IS NULL THEN dest_path"
            f" WHEN startswith(src_path, {sql_str(root + '/')})"
            f" OR src_path = {sql_str(root)}"
            f" THEN concat({dest}, substring(src_path, {len(root) + 1}, 2147483647))"
            f" ELSE concat_ws('/', {dest}, db, `table`, partition_name) END"
        ),
    )


def _apply_one(catalog: MetastoreCatalog, row, payload: dict | None) -> tuple:
    """One plan row → one catalog mutation (task-primitive port)."""
    action = row["action"]
    db, table, pname = row["db"], row["table"], row["partition_name"]
    try:
        if action == "NO_OP":
            return (db, table, pname, action, "SUCCESSFUL", None)
        if action in ("COPY_UNPARTITIONED_TABLE", "COPY_PARTITIONED_TABLE"):
            if payload is None:
                return (db, table, pname, action, "NOT_COMPLETABLE", "missing src table")
            rec = dict(payload)
            rec["location"] = row["dest_path"]
            if catalog.get_table(db, table) is None:
                catalog.create_table(rec)
            else:
                catalog.alter_table(rec)
            return (db, table, pname, action, "SUCCESSFUL", None)
        if action == "COPY_PARTITION":
            if payload is None:
                return (db, table, pname, action, "NOT_COMPLETABLE", "missing src partition")
            if catalog.get_table(db, table) is None:
                return (db, table, pname, action, "NOT_COMPLETABLE", "dest table missing")
            part = dict(payload)
            part["location"] = row["dest_path"]
            catalog.add_partition(db, table, part)
            return (db, table, pname, action, "SUCCESSFUL", None)
        if action == "DROP_TABLE":
            existing = catalog.get_table(db, table)
            if existing is None:
                return (db, table, pname, action, "SUCCESSFUL", "already absent")
            expected = row["expected_tldt"]
            actual = (existing.get("parameters") or {}).get(TLDT)
            if expected is not None and actual is not None and expected != actual:
                # TLDT CAS guard (DropTableTask.java:68-82)
                return (db, table, pname, action, "NOT_COMPLETABLE", "tldt mismatch")
            catalog.drop_table(db, table)
            return (db, table, pname, action, "SUCCESSFUL", None)
        if action == "DROP_PARTITION":
            existing = next(
                (p for p in catalog.get_partitions(db, table)
                 if p["partition_name"] == pname),
                None,
            )
            if existing is None:
                return (db, table, pname, action, "SUCCESSFUL", "already absent")
            expected = row["expected_tldt"]
            actual = (existing.get("parameters") or {}).get(TLDT)
            if expected is not None and actual is not None and expected != actual:
                return (db, table, pname, action, "NOT_COMPLETABLE", "tldt mismatch")
            catalog.drop_partition(db, table, pname)
            return (db, table, pname, action, "SUCCESSFUL", None)
        return (db, table, pname, action, "FAILED", f"unknown action {action}")
    except Exception as exc:  # noqa: BLE001 — per-row failures are data
        return (db, table, pname, action, "FAILED", f"{type(exc).__name__}: {exc}")


def _enrich(plan: DataFrame) -> DataFrame:
    enriched = plan if "payload" in plan.columns else plan.withColumn(
        "payload", F.lit(None).cast("string")
    )
    if "expected_tldt" not in enriched.columns:
        enriched = enriched.withColumn("expected_tldt", F.lit(None).cast("string"))
    return enriched


def execute_commits(
    spark: SparkSession,
    plan: DataFrame,
    dest_root: str,
    src_payloads: DataFrame | None = None,
    parallelism: int | None = None,
    catalog_factory: Callable[[], MetastoreCatalog] | None = None,
) -> DataFrame:
    """Apply metadata actions, one owner task per (db, table).

    ``src_payloads`` carries the serialized src object per plan row
    (to_json of the B.1/B.2 record) — the stage-1-output-as-stage-3-
    input pattern (S7), so committers never re-scan the src catalog.
    The dest catalog client is constructed inside the task (one per
    partition), matching the reference's per-mapper metastore clients
    (Stage3CommitChangeMapper setup). ``catalog_factory`` swaps the
    client class (default: ``DirectoryCatalog(dest_root)``); it must be
    picklable and is called once per partition executor-side — the
    shape a Thrift HMS client needs (host/port in the closure, socket
    opened in the task).
    """
    from reair_spark.shipping import ensure_shipped

    ensure_shipped(spark)
    # width rides spark.sql.shuffle.partitions (conf-driven, so the
    # targeted-replication metadata conf narrows it and a production
    # session keeps its own sizing) instead of a flat defaultParallelism
    # — the plan is changed-OBJECTS-scale, and 32 near-empty commit
    # tasks each paid a catalog-client construction per call here
    if not parallelism:
        try:
            parallelism = int(spark.conf.get("spark.sql.shuffle.partitions"))
        except ValueError:
            # some distributions set the conf to a non-numeric value
            # (e.g. "auto"); fall back to cluster parallelism
            parallelism = spark.sparkContext.defaultParallelism
    ordered = _enrich(plan).repartition(parallelism, "db", "table").sortWithinPartitions(
        "db", "table", F.col("action") != "DROP_TABLE", "partition_name"
    )

    def run(rows: Iterator) -> Iterator[tuple]:
        import json as _json

        catalog = (
            catalog_factory() if catalog_factory else DirectoryCatalog(dest_root)
        )
        for r in rows:
            payload = _json.loads(r["payload"]) if r["payload"] else None
            yield _apply_one(catalog, r, payload)

    return spark.createDataFrame(ordered.rdd.mapPartitions(run), COMMIT_RESULT_SCHEMA)


def apply_commits_driver(
    spark: SparkSession, plan: DataFrame, catalog: MetastoreCatalog
) -> DataFrame:
    """Driver-side commit loop for clients that can't cross the
    serialization boundary (``SparkSqlCatalog`` holds the live
    SparkSession). Same per-row semantics as ``execute_commits`` —
    shared ``_apply_one`` — and the same ordering (tables before their
    partitions, DROP_TABLE last per key); the plan is metadata-scale
    (changed objects, not files), so one collect is the honest cost of
    a single-endpoint metastore."""
    import json as _json

    rows = (
        _enrich(plan)
        .orderBy("db", "table", F.col("action") != "DROP_TABLE", "partition_name")
        .collect()
    )
    out = [
        _apply_one(catalog, r, _json.loads(r["payload"]) if r["payload"] else None)
        for r in rows
    ]
    from reair_spark.io import rows_df

    return rows_df(spark, out, COMMIT_RESULT_SCHEMA)
