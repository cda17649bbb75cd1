"""Diff planner: catalog snapshots → action plan DataFrame.

The heart of the reference — TaskEstimator's per-object RPC decision
procedure (incremental/primitives/TaskEstimator.java:74-212) re-
expressed as ONE full-outer join per object level plus a CASE ladder.
The reference spends ~100 ms of metastore RPC per partition
(TableCompareWorker.java:45-47) and needed a 150-way MR shuffle to
hide it; here the whole warehouse diff is a declarative plan over two
snapshot DataFrames — at 100 TB the inputs are metadata-sized (rows ∝
objects, not bytes), the join keys are (db, table[, partition_name]),
and AQE picks broadcast vs sort-merge per side.

The CASE ladder and every other projection are built as SQL text
(``selectExpr``/``F.expr``), not as ``pyspark.sql.functions`` chains:
each ``F.*`` node is one py4j round-trip, so the per-node form cost
~3,000 driver→JVM calls per targeted incremental op; one SQL string
per projection costs one.

Decision table (TaskEstimatorTest.java:37-322 is the spec):
- src only                       → COPY_* (metadata + data)
- dest only                      → DROP_*
- both, stripped-metadata equal
  and data digests equal         → NO_OP
- both, metadata drift only      → COPY_* (update_metadata only)
- both, data drift               → COPY_* (update_data, + metadata if drifted)
- dest newer (TLDT) and
  overwrite_newer=False          → NO_OP (DEST_IS_NEWER guard,
  ReplicationUtils.isSrcOlder:557-572, TaskEstimator.java:101-111)
- views / s3-rooted locations    → data never copied
  (DestinationObjectFactory.java:49-77,160-166)

Plan row shape = FIXTURES.md B.5 (the stage-1 TSV of
MetastoreReplicationJob.java:124-133, minus the TSV).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from reair_spark.catalog import strip_non_comparables

# actions (TaskEstimate.TaskType, incremental/primitives/TaskEstimate.java:12-49)
COPY_UNPARTITIONED_TABLE = "COPY_UNPARTITIONED_TABLE"
COPY_PARTITIONED_TABLE = "COPY_PARTITIONED_TABLE"
COPY_PARTITION = "COPY_PARTITION"
DROP_TABLE = "DROP_TABLE"
DROP_PARTITION = "DROP_PARTITION"
NO_OP = "NO_OP"

PLAN_COLUMNS = [
    "action",
    "update_metadata",
    "update_data",
    "src_path",
    "dest_path",
    "db",
    "table",
    "partition_name",
]


def _with_digest(snapshot: DataFrame, digests: DataFrame | None) -> DataFrame:
    """Attach per-location data digests (inventory.dir_digest output,
    keyed by root) — null digest means location unknown/empty."""
    if digests is None:
        return snapshot.selectExpr("*", "CAST(NULL AS STRING) AS data_digest")
    d = digests.selectExpr(
        "root AS location",
        "concat_ws(':', CAST(n_files AS STRING), CAST(total_size AS STRING), "
        "CAST(digest AS STRING)) AS data_digest",
    )
    return snapshot.join(d, "location", "left")


def _meta_cmp_sql(side: str, kind: str) -> str:
    """Canonical comparable rendering of one side's metadata
    (stripNonComparables + schemasMatch in one string)."""
    params = (
        f"array_sort(map_entries({strip_non_comparables(f'{side}.parameters')}))"
        " AS params"
    )
    if kind == "table":
        fields = (
            f"{side}.table_type, {side}.cols, {side}.partition_keys, {side}.serde"
        )
    else:
        fields = f"{side}.`values`"
    return f"to_json(struct({fields}, {params}))"


def _tldt_sql(side: str) -> str:
    return (
        f"coalesce(CAST(element_at({side}.parameters, 'transient_lastDdlTime')"
        " AS BIGINT), 0)"
    )


def _diff(
    src: DataFrame,
    dest: DataFrame,
    keys: list[str],
    kind: str,
    copy_action: str,
    drop_action: str,
    overwrite_newer: bool,
) -> DataFrame:
    """One level's plan in PLAN_COLUMNS order. ``copy_action`` is SQL
    text. The decision inputs are one projection and the CASE ladder
    over them a second, each column one shallow SQL expression with no
    grouping parentheses: the SQL parser caches a prediction state per
    distinct token run inside a ``(...)`` group, so deep or
    parenthesized text grows the driver heap by MBs."""
    s = src.selectExpr("*", "true AS present").alias("s")
    d = dest.selectExpr("*", "true AS present").alias("d")

    # views and s3-rooted locations: metadata-only replication (F7)
    copies_data = "true"
    if kind == "table":
        copies_data = (
            "s.table_type != 'VIRTUAL_VIEW'"
            " AND NOT coalesce(startswith(s.location, 's3'), false)"
        )
    part_col = (
        "partition_name" if kind == "partition"
        else "CAST(NULL AS STRING) AS partition_name"
    )
    facts = s.join(d, keys, "full_outer").selectExpr(
        "coalesce(s.present, false) AS src_exists",
        "coalesce(d.present, false) AS dest_exists",
        f"{_meta_cmp_sql('s', kind)} = {_meta_cmp_sql('d', kind)} AS meta_equal",
        # null-safe: a digest on one side only is unequal data, never
        # NULL (a NULL fell through the ladder to a no-op COPY)
        "s.data_digest <=> d.data_digest AS data_equal",
        f"{copies_data} AS copies_data",
        f"{_tldt_sql('d')} > {_tldt_sql('s')} AS dest_is_newer",
        f"{copy_action} AS copy_action",
        "s.location AS src_path",
        "d.location AS dest_path",
        *[f"`{k}`" for k in keys if k != "partition_name"],
        part_col,
    )
    # an OR inside an AND is split into two WHENs (same truth table)
    dest_is_newer = (
        "" if overwrite_newer else f" WHEN dest_is_newer THEN '{NO_OP}'"
    )
    return facts.selectExpr(
        "*",
        "CASE WHEN src_exists AND NOT dest_exists THEN copy_action"
        f" WHEN NOT src_exists AND dest_exists THEN '{drop_action}'"
        f" WHEN meta_equal AND data_equal THEN '{NO_OP}'"
        f" WHEN meta_equal AND NOT copies_data THEN '{NO_OP}'"
        f"{dest_is_newer}"  # DEST_IS_NEWER guard
        " ELSE copy_action END AS action",
    ).selectExpr(
        "action",
        "CASE WHEN startswith(action, 'COPY') AND NOT dest_exists THEN true"
        " WHEN startswith(action, 'COPY') AND NOT meta_equal THEN true"
        " ELSE false END AS update_metadata",
        "CASE WHEN startswith(action, 'COPY') AND copies_data"
        " AND NOT dest_exists THEN true"
        " WHEN startswith(action, 'COPY') AND copies_data"
        " AND NOT data_equal THEN true ELSE false END AS update_data",
        *[f"`{c}`" for c in PLAN_COLUMNS[3:]],
    )


def table_diff(
    src_tables: DataFrame,
    dest_tables: DataFrame,
    src_digests: DataFrame | None = None,
    dest_digests: DataFrame | None = None,
    overwrite_newer: bool = True,
) -> DataFrame:
    """Table-level plan (J1: TaskEstimator.analyzeTableSpec:74-144).
    Partitioned tables get COPY_PARTITIONED_TABLE (metadata-only at
    table level; their data moves per-partition, same as the
    reference's eager dest-table create at TableCompareWorker:146-156)."""
    copy_action = (
        "CASE WHEN size(coalesce(s.partition_keys, array())) > 0"
        f" THEN '{COPY_PARTITIONED_TABLE}' ELSE '{COPY_UNPARTITIONED_TABLE}' END"
    )
    src = _with_digest(src_tables, src_digests)
    dest = _with_digest(dest_tables, dest_digests)
    plan = _diff(
        src, dest, ["db", "table"], "table", copy_action, DROP_TABLE, overwrite_newer
    )
    # partitioned tables never copy table-level data
    return plan.withColumn(
        "update_data",
        F.expr(
            f"CASE WHEN action = '{COPY_PARTITIONED_TABLE}' THEN false"
            " ELSE update_data END"
        ),
    )


def schema_diff(src_tables: DataFrame, dest_tables: DataFrame) -> DataFrame:
    """Field-level schema drift between two catalog snapshots — the
    column-granular view underneath `schemasMatch` (ReplicationUtils
    .java:139-142 compares sd.cols/partitionKeys wholesale; this
    operator says WHICH fields moved): one row per (db, table, column)
    whose presence or type differs, classified ADDED (src-only),
    REMOVED (dest-only), RETYPED.

    Plan shape: posexplode both sides' cols arrays → one full-outer
    join on (db, table, col_name). Field rows ≈ tables × avg-width, so
    the shuffle is metadata-scale even for a 100k-table warehouse."""

    def fields(side: DataFrame, prefix: str) -> DataFrame:
        return side.select(
            "db", "table", F.posexplode("cols").alias("pos", "f")
        ).select(
            "db",
            "table",
            F.col("f.name").alias("col_name"),
            F.col("f.type").alias(f"{prefix}_type"),
        )

    s, d = fields(src_tables, "src"), fields(dest_tables, "dest")
    j = s.join(d, ["db", "table", "col_name"], "full_outer")
    change = (
        F.when(F.col("dest_type").isNull(), "ADDED")
        .when(F.col("src_type").isNull(), "REMOVED")
        .when(F.col("src_type") != F.col("dest_type"), "RETYPED")
        .otherwise("UNCHANGED")
    )
    return j.select(
        "db", "table", "col_name", "src_type", "dest_type",
        change.alias("change"),
    ).where(F.col("change") != "UNCHANGED")


def partition_diff(
    src_parts: DataFrame,
    dest_parts: DataFrame,
    src_digests: DataFrame | None = None,
    dest_digests: DataFrame | None = None,
    overwrite_newer: bool = True,
) -> DataFrame:
    """Partition-level plan (J2/SO1 collapsed: the reference's
    union(src,dest)→CHECK_PARTITION→re-analyze two-step
    (TableCompareWorker.java:158-172 + Stage1PartitionCompareReducer)
    collapses into one full-outer join)."""
    src = _with_digest(src_parts, src_digests)
    dest = _with_digest(dest_parts, dest_digests)
    return _diff(
        src,
        dest,
        ["db", "table", "partition_name"],
        "partition",
        f"'{COPY_PARTITION}'",
        DROP_PARTITION,
        overwrite_newer,
    )


def warehouse_plan(
    src_tables: DataFrame,
    dest_tables: DataFrame,
    src_parts: DataFrame,
    dest_parts: DataFrame,
    src_digests: DataFrame | None = None,
    dest_digests: DataFrame | None = None,
    overwrite_newer: bool = True,
) -> DataFrame:
    """Full warehouse diff = table plan ∪ partition plan, the Spark
    equivalent of the reference's whole stage 1."""
    t = table_diff(src_tables, dest_tables, src_digests, dest_digests, overwrite_newer)
    p = partition_diff(src_parts, dest_parts, src_digests, dest_digests, overwrite_newer)
    return t.union(p)
