"""Partition-scale harness for the replication metadata path.

The reference's stated design point is tables with "a large number of
partitions (more than 1M)" where every partition check costs ~100 ms
of metastore RPC, hidden behind a 150-way MR shuffle
(batch/.../TableCompareWorker.java:43-48, MetastoreReplicationJob.java
parallelism knobs). This engine's claim is stronger: the whole diff is
ONE declarative full-outer join over two metadata-sized snapshots, so
partition count scales executor-side only. This module makes that
claim measurable and gateable:

- ``synthetic_partition_snapshots`` builds src/dest partition
  snapshots of ANY size entirely from ``spark.range`` — zero driver
  rows, zero files; the skew/drift scenario is deterministic integer
  arithmetic so an oracle can re-derive every expected count in
  closed form without running a diff.
- ``partition_scale_digest`` drives the REAL engine path
  (partition_diff → rewrite_locations → plan_copy_tasks) at the
  reference's design scale and reduces it to per-action counts +
  copy-task bytes; the DuckDB oracle recomputes the same rows from
  ``generate_series`` + the scenario rules — a planner bug at scale
  breaks the hash match.
- ``measure_scale`` times the same pipeline at two partition counts
  and reports wall + Spark job counts, the 1×/10× evidence table for
  PLANS.md.

Scenario rules (all integer, mirrored verbatim in the oracle SQL):
  table skew      tbl = 0 if id%2==0 else id%N_TABLES   (one mega-table
                  holding ~half of all partitions + a uniform tail —
                  the "few huge tables" shape the reference calls out)
  id % 10 == 0    partition missing from dest        → COPY (meta+data)
  id % 10 == 1    dest metadata drifted (older TLDT) → COPY (meta only)
  id % 10 == 2    dest NEWER (TLDT+5); run with overwrite_newer=False
                  → NO_OP via the DEST_IS_NEWER guard
  otherwise       identical                          → NO_OP
  extras          n//20 ids exist only in dest       → DROP_PARTITION
  inventory       each missing-dest partition root holds two files of
                  sizes 100+id%50 and 200+id%50
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

N_TABLES = 40
SRC_ROOT = "/wh"
DEST_ROOT = "/dest-wh"


def _base(spark: SparkSession, ids) -> DataFrame:
    """Shared partition-row shape from an id column — everything is a
    JVM expression over ``spark.range``; nothing materializes on the
    driver at any partition count."""
    tbl = F.when(F.col("id") % 2 == 0, F.lit(0)).otherwise(
        F.col("id") % N_TABLES
    )
    return ids.select(
        F.lit("db1").alias("db"),
        F.concat(F.lit("t"), tbl.cast("string")).alias("table"),
        F.concat(F.lit("ds="), F.col("id").cast("string")).alias(
            "partition_name"
        ),
        F.array(F.col("id").cast("string")).alias("values"),
        F.concat(
            F.lit(f"{SRC_ROOT}/db1/t"), tbl.cast("string"),
            F.lit("/ds="), F.col("id").cast("string"),
        ).alias("location"),
        F.col("id"),
    )


def synthetic_partition_snapshots(
    spark: SparkSession, n: int
) -> tuple[DataFrame, DataFrame]:
    """(src, dest) partition snapshots of the scenario above, each in
    PARTITION_SCHEMA shape. ``n`` src partitions; dest misses n/10,
    drifts n/10, is-newer n/10, and carries n/20 extras."""
    params = lambda tldt: F.create_map(  # noqa: E731
        F.lit("transient_lastDdlTime"), tldt.cast("string")
    )
    src_tldt = F.lit(1000) + (F.col("id") % 7)

    src = _base(spark, spark.range(n)).select(
        "db", "table", "partition_name", "values", "location",
        params(src_tldt).alias("parameters"),
    )

    kept = _base(spark, spark.range(n)).filter(F.col("id") % 10 != 0)
    dest_tldt = (
        F.when(F.col("id") % 10 == 1, src_tldt - 1)
        .when(F.col("id") % 10 == 2, src_tldt + 5)
        .otherwise(src_tldt)
    )
    dest_main = kept.select(
        "db", "table", "partition_name", "values", "location",
        params(dest_tldt).alias("parameters"),
    )
    extras = _base(
        spark, spark.range(n, n + n // 20)
    ).select(
        "db", "table", "partition_name", "values",
        # extras live under the DEST warehouse (they were dropped at
        # the source); location root differs accordingly
        F.regexp_replace("location", f"^{SRC_ROOT}/", f"{DEST_ROOT}/").alias(
            "location"
        ),
        params(F.lit(1)).alias("parameters"),
    )
    return src, dest_main.unionByName(extras)


def synthetic_inventory(spark: SparkSession, n: int) -> DataFrame:
    """File inventory for every missing-dest partition root (the only
    roots the copy planner consults): two files per root, sizes
    100+id%50 and 200+id%50 — the (root, rel_path, size, mtime) shape
    inventory.list_files produces, generated distributedly."""
    roots = _base(spark, spark.range(n)).filter(F.col("id") % 10 == 0)
    return roots.select(
        F.col("location").alias("root"),
        F.explode(F.array(F.lit(0), F.lit(1))).alias("j"),
        F.col("id"),
    ).select(
        "root",
        F.concat(F.lit("part-"), F.col("j").cast("string")).alias("rel_path"),
        ((F.col("j") + 1) * 100 + F.col("id") % 50).cast("long").alias("size"),
        F.lit(0).cast("long").alias("mtime"),
    )


def scale_pipeline(spark: SparkSession, n: int) -> DataFrame:
    """The real engine path at ``n`` partitions: partition_diff (with
    the DEST_IS_NEWER guard armed) → rewrite_locations →
    plan_copy_tasks, reduced to a digest of per-action counts plus the
    copy-task count and byte total."""
    from reair_spark.commit import rewrite_locations
    from reair_spark.copy import plan_copy_tasks
    from reair_spark.diff import partition_diff

    src, dest = synthetic_partition_snapshots(spark, n)
    plan = partition_diff(src, dest, overwrite_newer=False)
    plan = rewrite_locations(plan, SRC_ROOT, DEST_ROOT)
    tasks = plan_copy_tasks(plan, synthetic_inventory(spark, n))

    diff_digest = plan.groupBy("action", "update_metadata", "update_data").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.lit(0).cast("long").alias("bytes"),
    ).select(
        F.lit("diff").alias("stage"),
        "action", "update_metadata", "update_data", "n", "bytes",
    )
    task_digest = tasks.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.coalesce(F.sum("size"), F.lit(0)).cast("long").alias("bytes"),
    ).select(
        F.lit("tasks").alias("stage"),
        F.lit("FILE_COPY").alias("action"),
        F.lit(True).alias("update_metadata"),
        F.lit(True).alias("update_data"),
        "n", "bytes",
    )
    return diff_digest.unionByName(task_digest)


GATE_N = 50_000


def partition_scale_digest(spark: SparkSession, sf: str) -> DataFrame:
    """Gate query: the scenario at the reference's ~50k-partition
    design scale. ``sf`` is unused — the input is synthetic metadata,
    identical at every scale factor, which is the point: partition
    METADATA volume is independent of data volume."""
    return scale_pipeline(spark, GATE_N)


def partition_scale_oracle_sql(n: int = GATE_N) -> str:
    """Closed-form re-derivation of the digest from the scenario rules
    over ``generate_series`` — no diff, no join: an independent
    statement of what the planner MUST produce at this scale."""
    return f"""
WITH ids AS (SELECT unnest(generate_series(0, {n} - 1)) AS id)
SELECT 'diff' AS stage, 'COPY_PARTITION' AS action,
       TRUE AS update_metadata, TRUE AS update_data,
       count(*)::BIGINT AS n, 0::BIGINT AS bytes
FROM ids WHERE id % 10 = 0
UNION ALL
SELECT 'diff', 'COPY_PARTITION', TRUE, FALSE, count(*)::BIGINT, 0::BIGINT
FROM ids WHERE id % 10 = 1
UNION ALL
SELECT 'diff', 'NO_OP', FALSE, FALSE, count(*)::BIGINT, 0::BIGINT
FROM ids WHERE id % 10 NOT IN (0, 1)
UNION ALL
SELECT 'diff', 'DROP_PARTITION', FALSE, FALSE, {n} // 20, 0::BIGINT
UNION ALL
SELECT 'tasks', 'FILE_COPY', TRUE, TRUE,
       2 * count(*)::BIGINT,
       sum(300 + 2 * (id % 50))::BIGINT
FROM ids WHERE id % 10 = 0
"""


def measure_scale(
    spark: SparkSession, sizes: tuple[int, ...] = (50_000, 500_000)
) -> list[dict]:
    """Wall + Spark-job counts for the full pipeline at each size —
    the PLANS.md evidence table. Jobs are counted via
    setJobGroup/getJobIdsForGroup (includes AQE sub-jobs, same method
    as the round-6 job audit, comparable across sizes)."""
    sc = spark.sparkContext
    out = []
    for n in sizes:
        group = f"scalebench-{n}"
        sc.setJobGroup(group, f"partition scale study n={n}")
        t0 = time.time()
        rows = scale_pipeline(spark, n).collect()
        wall = time.time() - t0
        sc.setJobGroup("", "")
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        out.append({
            "n_partitions": n,
            "wall_s": round(wall, 2),
            "spark_jobs": jobs,
            "digest_rows": len(rows),
            "plan_rows": sum(r.n for r in rows if r.stage == "diff"),
        })
    return out


# ---------------------------------------------------------------------------
# audit-event compile path at scale (the incremental engine's front
# half: the reference's ReplicationServer consumes an audit log that
# can carry millions of entries per day; compile_jobs must stay a
# declarative plan whose driver cost is independent of event count)
# ---------------------------------------------------------------------------

N_EVENT_TABLES = 40
COMPILE_GATE_N = 100_000


def synthetic_audit_events(spark: SparkSession, n: int) -> DataFrame:
    """Audit-log rows of every compile class from ``spark.range`` —
    zero driver rows. Per id % 10 (tbl skewed like the partition
    scenario: half the events hit one mega-table):

      0 THRIFT_CREATE_TABLE   → COPY_UNPARTITIONED_TABLE
      1 CREATETABLE (parted)  → COPY_PARTITIONED_TABLE
      2 DROPTABLE             → DROP_TABLE
      3 ALTERTABLE_RENAME     → RENAME_TABLE
      4 ALTERTABLE_ADDPARTS×2 → COPY_PARTITIONS (dyn-part batch of 2)
      5 THRIFT_ADD_PARTITION  → COPY_PARTITION
      6 THRIFT_DROP_PARTITION → DROP_PARTITION
      7 EXCHANGEPARTITION     → COPY_PARTITION via the X7 regex path
      8 SHOWTABLES            → filtered (non-replicating type)
      9 QUERY, no outputs     → filtered (no outputs)
    """
    tbl = F.when(F.col("id") % 2 == 0, F.lit(0)).otherwise(
        F.col("id") % N_EVENT_TABLES
    )
    name = F.concat(F.lit("db1.t"), tbl.cast("string"))
    m = F.col("id") % 10

    def obj(category, obj_type, nm, payload="{}"):
        return F.struct(
            F.lit(category).alias("category"),
            F.lit(obj_type).alias("obj_type"),
            nm.alias("name"),
            F.lit(payload).alias("payload"),
        )

    empty = F.array().cast(
        "array<struct<category:string,obj_type:string,"
        "name:string,payload:string>>"
    )
    objects = (
        F.when(m == 0, F.array(obj("OUTPUT", "TABLE", name)))
        .when(m == 1, F.array(obj(
            "OUTPUT", "TABLE", name,
            '{"partition_keys": [{"name": "ds"}]}')))
        .when(m == 2, F.array(obj("OUTPUT", "TABLE", name)))
        .when(m == 3, F.array(
            obj("OUTPUT", "TABLE", F.concat(name, F.lit("_r"))),
            obj("RENAME_FROM", "TABLE", name),
        ))
        .when(m == 4, F.array(
            obj("OUTPUT", "PARTITION", F.concat(name, F.lit("/ds=1"))),
            obj("OUTPUT", "PARTITION", F.concat(name, F.lit("/ds=2"))),
        ))
        .when(m == 5, F.array(obj("OUTPUT", "PARTITION",
                                  F.concat(name, F.lit("/ds=1")))))
        .when(m == 6, F.array(obj("OUTPUT", "PARTITION",
                                  F.concat(name, F.lit("/ds=1")))))
        .when(m == 7, F.array(obj("INPUT", "TABLE", name)))
        .otherwise(empty)
    )
    command_type = (
        F.when(m == 0, F.lit("THRIFT_CREATE_TABLE"))
        .when(m == 1, F.lit("CREATETABLE"))
        .when(m == 2, F.lit("DROPTABLE"))
        .when(m == 3, F.lit("ALTERTABLE_RENAME"))
        .when(m == 4, F.lit("ALTERTABLE_ADDPARTS"))
        .when(m == 5, F.lit("THRIFT_ADD_PARTITION"))
        .when(m == 6, F.lit("THRIFT_DROP_PARTITION"))
        .when(m == 7, F.lit("EXCHANGEPARTITION"))
        .when(m == 8, F.lit("SHOWTABLES"))
        .otherwise(F.lit("QUERY"))
    )
    command = F.when(
        m == 7,
        F.concat(
            F.lit("ALTER TABLE db1.src EXCHANGE PARTITION (ds='1') "
                  "WITH TABLE "),
            name,
        ),
    ).otherwise(F.lit(""))
    return spark.range(n).select(
        (F.col("id") + 1).alias("id"),
        F.lit("2020-01-01 00:00:00").cast("timestamp").alias("create_time"),
        command_type.alias("command_type"),
        command.alias("command"),
        objects.alias("objects"),
    )


def compile_scale_pipeline(spark: SparkSession, n: int) -> DataFrame:
    """synthetic events → the REAL compile_jobs → per-operation digest
    (job count + Σ partition_names sizes)."""
    from reair_spark.events import compile_jobs

    jobs = compile_jobs(synthetic_audit_events(spark, n))
    return jobs.groupBy("operation").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.size("partition_names")).cast("long").alias("n_partitions"),
    )


def compile_scale_digest(spark: SparkSession, sf: str) -> DataFrame:
    """Gate: 100k audit events of every compile class through the
    real event→job compiler. ``sf`` unused — audit metadata volume is
    independent of data volume, which is the point."""
    return compile_scale_pipeline(spark, COMPILE_GATE_N)


def compile_scale_oracle_sql(n: int = COMPILE_GATE_N) -> str:
    """Closed form: each id class is n/10 events; COPY_PARTITION gets
    two classes (direct add + exchange); the ADDPARTS batch carries
    two partitions per job."""
    c = n // 10
    return f"""
SELECT 'COPY_UNPARTITIONED_TABLE' AS operation,
       {c}::BIGINT AS n, 0::BIGINT AS n_partitions
UNION ALL SELECT 'COPY_PARTITIONED_TABLE', {c}, 0
UNION ALL SELECT 'DROP_TABLE', {c}, 0
UNION ALL SELECT 'RENAME_TABLE', {c}, 0
UNION ALL SELECT 'COPY_PARTITIONS', {c}, {2 * c}
UNION ALL SELECT 'COPY_PARTITION', {2 * c}, {2 * c}
UNION ALL SELECT 'DROP_PARTITION', {c}, {c}
"""


_COMPILE_EVENTS_CACHE: dict = {}


def compile_scale_stream(
    spark: SparkSession, n: int = COMPILE_GATE_N, files_per_trigger: int = 0
) -> DataFrame:
    """The compile scenario through the STREAMING position: events
    persisted once per session (memoized), consumed with an
    availableNow checkpointed reader, compiled per micro-batch by the
    real foreachBatch sink (stream_compile_jobs_foreachbatch — ST4's
    idempotent per-batch overwrite), and the union of all batch
    outputs digested per operation. ``files_per_trigger`` > 0 splits
    the run into multiple micro-batches."""
    import atexit
    import shutil
    import tempfile

    from reair_spark.streaming import stream_compile_jobs_foreachbatch

    key = (spark.sparkContext.applicationId, "compile_events", n)
    if key not in _COMPILE_EVENTS_CACHE:
        base = tempfile.mkdtemp(prefix="reair_cstream_")
        atexit.register(shutil.rmtree, base, ignore_errors=True)
        path = f"{base}/events"
        synthetic_audit_events(spark, n).repartition(4).write.parquet(path)
        _COMPILE_EVENTS_CACHE[key] = (base, path)
    base, path = _COMPILE_EVENTS_CACHE[key]

    run = tempfile.mkdtemp(prefix="reair_cstream_run_")
    atexit.register(shutil.rmtree, run, ignore_errors=True)
    schema = spark.read.parquet(path).schema
    reader = spark.readStream.schema(schema)
    if files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", files_per_trigger)
    stream = reader.parquet(path)
    stream_compile_jobs_foreachbatch(
        spark, stream, f"{run}/jobs", f"{run}/_ckpt"
    )
    jobs = spark.read.parquet(f"{run}/jobs")
    return jobs.groupBy("operation").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.size("partition_names")).cast("long").alias("n_partitions"),
    )


def compile_scale_stream_digest(spark: SparkSession, sf: str) -> DataFrame:
    """Gate: the streaming compile position at 100k events against the
    SAME closed-form oracle as `compile_scale_digest` — batch and
    stream positions must compile identical jobs (path equivalence;
    the compile twin of the incremental loop's statement). The gate
    runs availableNow single-batch for its fixed-floor cost; the
    multi-micro-batch boundary invariance is enforced by pytest
    (test_partition_scale: 4-batch run == this digest), the same
    single-batch-gate + equivalence-pytest discipline as the
    incremental gates."""
    return compile_scale_stream(spark, COMPILE_GATE_N)


# ---------------------------------------------------------------------------
# file-inventory scale (stage 2): the reference's SECOND design point
# after "millions of partitions" is millions of FILES per copy job —
# Stage2DirectoryCopyMapper.java:116-125 re-keys per-file on
# murmur3(size, mtime) and ReplicationJob.DirectoryCompareReducer:
# 215-319 diffs at file granularity. This section drives the REAL
# dirsync diff (sync_plan_from_listings — the same code sync_plan
# runs on listed trees) and the REAL task projection + xxhash64
# rebalance (sync_copy_tasks → copy.rebalance_tasks, the byte-moving
# tail trimmed) over range-generated listings: zero driver rows at
# any file count.
#
# Scenario rules (integer arithmetic, mirrored in the oracle):
#   rel_path = dir{id % 997}/f{id}   (~1k dirs; one dir never owns
#                                     the corpus — the fan the hash
#                                     rebalance must still flatten)
#   size     = 1000 + id % 500, mtime = 1_000_000 + id % 100
#   id % 10 == 0   missing from dest                → ADD
#   id % 10 == 1   dest size drifted (+1)           → UPDATE
#   id % 10 == 2   dest mtime drifted (+3), size ok → UPDATE
#                  (the run is compare_mtime=True)
#   id % 10 == 3   the file ALSO exists under a second src root with
#                  mtime+50/size+7, and dest matches THAT version →
#                  NO_OP iff the W1 latest-mtime-wins window picked
#                  the newer root (a wrong winner breaks the hash)
#   otherwise      identical                        → NO_OP
#   extras         n//20 dest-only ids              → DELETE
# ---------------------------------------------------------------------------

FILE_SRC_A = "/src-a"
FILE_SRC_B = "/src-b"
FILE_DEST = "/dest-files"
FILE_GATE_N = 1_000_000


def _file_cols():
    rel = F.concat(
        F.lit("dir"), (F.col("id") % 997).cast("string"),
        F.lit("/f"), F.col("id").cast("string"),
    )
    size = (F.lit(1000) + F.col("id") % 500).cast("long")
    mtime = (F.lit(1_000_000) + F.col("id") % 100).cast("long")
    return rel, size, mtime


def synthetic_file_listings(
    spark: SparkSession, n: int
) -> tuple[DataFrame, DataFrame]:
    """(src, dest) file listings in list_files shape (root, rel_path,
    size, mtime), entirely from ``spark.range``."""
    rel, size, mtime = _file_cols()
    src_a = spark.range(n).select(
        F.lit(FILE_SRC_A).alias("root"), rel.alias("rel_path"),
        size.alias("size"), mtime.alias("mtime"),
    )
    src_b = spark.range(n).filter(F.col("id") % 10 == 3).select(
        F.lit(FILE_SRC_B).alias("root"), rel.alias("rel_path"),
        (size + 7).cast("long").alias("size"),
        (mtime + 50).cast("long").alias("mtime"),
    )
    m = F.col("id") % 10
    dest_main = spark.range(n).filter(m != 0).select(
        F.lit(FILE_DEST).alias("root"), rel.alias("rel_path"),
        (size
         + F.when(m == 1, 1).when(m == 3, 7).otherwise(0)
         ).cast("long").alias("size"),
        (mtime
         + F.when(m == 2, 3).when(m == 3, 50).otherwise(0)
         ).cast("long").alias("mtime"),
    )
    extras = spark.range(n, n + n // 20).select(
        F.lit(FILE_DEST).alias("root"), rel.alias("rel_path"),
        size.alias("size"), mtime.alias("mtime"),
    )
    return src_a.unionByName(src_b), dest_main.unionByName(extras)


def file_scale_pipeline(spark: SparkSession, n: int) -> DataFrame:
    """The real file path at ``n`` src files: sync_plan_from_listings
    (W1 latest-per-key + J3 full-outer diff, compare_mtime armed) →
    sync_copy_tasks → rebalance_tasks (the A8-sized xxhash64 shuffle
    of execute_copies, copies trimmed), reduced to per-action counts +
    bytes plus the post-rebalance task count + byte total. The plan is
    persisted eagerly — two consumers (action digest, task branch),
    one diff."""
    from pyspark import StorageLevel

    from reair_spark.copy import rebalance_tasks
    from reair_spark.dirsync import sync_copy_tasks, sync_plan_from_listings
    from reair_spark.plans import size_copy_parallelism

    src, dest = synthetic_file_listings(spark, n)
    plan = sync_plan_from_listings(src, dest, compare_mtime=True).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    plan.count()  # eager: one diff feeds both branches
    plan_digest = plan.groupBy("action").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.coalesce(F.sum("size"), F.lit(0)).cast("long").alias("bytes"),
    ).select(F.lit("plan").alias("stage"), "action", "n", "bytes")
    tasks = sync_copy_tasks(plan, FILE_DEST)
    # the REAL A8 sizing fn, capped so the digest-only gate doesn't
    # spawn 100-file micro-tasks (real copies want them; an agg
    # doesn't) — the cap argument is part of size_copy_parallelism's
    # public contract
    balanced = rebalance_tasks(
        tasks, size_copy_parallelism(tasks, max_tasks=256)
    )
    task_digest = balanced.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.coalesce(F.sum("size"), F.lit(0)).cast("long").alias("bytes"),
    ).select(
        F.lit("tasks").alias("stage"), F.lit("FILE_COPY").alias("action"),
        "n", "bytes",
    )
    return plan_digest.unionByName(task_digest)


def file_scale_digest(spark: SparkSession, sf: str) -> DataFrame:
    """Gate: the file scenario at the reference's ~1M-file design
    scale. ``sf`` unused — file-inventory METADATA volume is
    independent of data volume, which is the point."""
    return file_scale_pipeline(spark, FILE_GATE_N)


def file_scale_oracle_sql(n: int = FILE_GATE_N) -> str:
    """Closed-form re-derivation of the file digest from the scenario
    rules over ``generate_series`` — no join, no window: an
    independent statement of what the file planner MUST produce."""
    return f"""
WITH ids AS (SELECT unnest(generate_series(0, {n} - 1)) AS id)
SELECT 'plan' AS stage, 'ADD' AS action, count(*)::BIGINT AS n,
       sum(1000 + id % 500)::BIGINT AS bytes
FROM ids WHERE id % 10 = 0
UNION ALL
SELECT 'plan', 'UPDATE', count(*)::BIGINT, sum(1000 + id % 500)::BIGINT
FROM ids WHERE id % 10 IN (1, 2)
UNION ALL
SELECT 'plan', 'NO_OP', count(*)::BIGINT,
       sum(1000 + id % 500
           + CASE WHEN id % 10 = 3 THEN 7 ELSE 0 END)::BIGINT
FROM ids WHERE id % 10 NOT IN (0, 1, 2)
UNION ALL
SELECT 'plan', 'DELETE', CAST({n // 20} AS BIGINT), 0::BIGINT
UNION ALL
SELECT 'tasks', 'FILE_COPY', count(*)::BIGINT,
       sum(1000 + id % 500)::BIGINT
FROM ids WHERE id % 10 IN (0, 1, 2)
"""


# ---------------------------------------------------------------------------
# zone-map scan PLANNING at scale: a million-bucket manifest is the
# metadata of a ~10M-file clustered table; the planner (sources.
# zonemap_plan) must evaluate predicates against it with Spark-side
# selection so the driver receives only surviving buckets — the
# Iceberg manifest-evaluation cost model. Manifests are range-generated
# (zero driver rows) and written once per (session, n).
# ---------------------------------------------------------------------------

ZONEMAP_GATE_N = 100_000
_ZM_SCALE_MANIFESTS: dict = {}


def synthetic_zonemap_manifest(spark: SparkSession, n: int) -> str:
    """Manifest for ``n`` buckets with DISJOINT v-zones: bucket i holds
    v ∈ [10i, 10i+9] and n_rows = (i % 97) + 1 — every stat is
    closed-form, so the planner's output is oracle-checkable by range
    arithmetic alone."""
    import atexit
    import shutil
    import tempfile

    key = (spark.sparkContext.applicationId, n)
    if key not in _ZM_SCALE_MANIFESTS:
        base = tempfile.mkdtemp(prefix="reair_zmscale_")
        atexit.register(shutil.rmtree, base, ignore_errors=True)
        (
            spark.range(n)
            .select(
                F.col("id").cast("string").alias("bucket"),
                ((F.col("id") % 97) + 1).cast("long").alias("n_rows"),
                (F.col("id") * 10).alias("min_v"),
                (F.col("id") * 10 + 9).alias("max_v"),
            )
            .write.mode("overwrite")
            .parquet(f"{base}/manifest/ingest=0")
        )
        _ZM_SCALE_MANIFESTS[key] = base
    return _ZM_SCALE_MANIFESTS[key]


def _zm_bounds(n: int) -> tuple[int, int]:
    """A mid-range ~50%-selective predicate, deliberately NOT aligned
    to zone boundaries (both edge buckets are partial overlaps)."""
    return n * 10 // 4 + 5, n * 10 * 3 // 4 + 4


def zonemap_plan_scale(spark: SparkSession, n: int) -> dict:
    """Drive the REAL planner over the n-bucket manifest."""
    from reair_spark.sources import zonemap_plan

    loc = synthetic_zonemap_manifest(spark, n)
    lo, hi = _zm_bounds(n)
    _, _, stats = zonemap_plan(spark, loc, predicates=[("v", lo, hi)])
    return stats


def zonemap_scale_digest(spark: SparkSession, sf: str) -> DataFrame:
    """Gate query: planning over a 100k-bucket manifest (``sf`` unused
    — manifest volume is metadata, independent of data scale). The
    stats ride a range(1) frame (never createDataFrame — the
    driver-rows discipline all scale gates share)."""
    stats = zonemap_plan_scale(spark, ZONEMAP_GATE_N)
    return spark.range(1).select(
        F.lit(stats["n_buckets_total"]).cast("long").alias(
            "n_buckets_total"
        ),
        F.lit(stats["n_buckets_read"]).cast("long").alias("n_buckets_read"),
        F.lit(stats["n_rows_scanned"]).cast("long").alias("n_rows_scanned"),
    )


def zonemap_scale_oracle_sql(n: int = ZONEMAP_GATE_N) -> str:
    lo, hi = _zm_bounds(n)
    return f"""
WITH b AS (SELECT unnest(generate_series(0, {n} - 1)) AS i),
k AS (SELECT i, (i % 97) + 1 AS nr FROM b
      WHERE i * 10 + 9 >= {lo} AND i * 10 <= {hi})
SELECT (SELECT count(*)::BIGINT FROM b) AS n_buckets_total,
       (SELECT count(*)::BIGINT FROM k) AS n_buckets_read,
       (SELECT sum(nr)::BIGINT FROM k) AS n_rows_scanned
"""


# ---------------------------------------------------------------------
# MERGE/DELETE at metadata scale (VERDICT r10 ask #5)
# ---------------------------------------------------------------------

MERGE_SCALE_N = 100_000   # buckets in the manifest
MERGE_SEED_B = 20         # buckets that carry real data (10 rows each)
MERGE_SCALE_K = 5         # buckets one merge touches
_MERGE_TEMPLATES: dict = {}


def synthetic_merge_layout(spark: SparkSession, n: int) -> str:
    """A descriptor-bearing zone-mapped layout whose manifest claims
    ``n`` buckets while only ``MERGE_SEED_B`` of them carry real data
    — the harness shape for proving MERGE/DELETE cost scales with the
    buckets TOUCHED, not the buckets that EXIST.

    Build: the real engine writer (``write_zonemapped``) lays down the
    seed buckets (bucket i holds v = 10i..10i+9, columns k=v=id), then
    one range-generated manifest delta (``ingest=1``) adds ``n − seed``
    phantom buckets with the SAME closed-form disjoint zones
    (min_v=10i, max_v=10i+9, n_rows=(i%97)+1) and no data directories
    — legal, because every plan/merge/delete path only ever opens the
    directories of buckets it KEPT, and the scenario's predicates and
    update keys live entirely inside the seed zones. Zero
    ``createDataFrame`` rows, the discipline all scale harnesses
    share. Returns the TEMPLATE path — mutations must clone it
    (:func:`merge_scale_scenario` does)."""
    import atexit
    import shutil
    import tempfile

    from reair_spark.sources import write_zonemapped

    key = (spark.sparkContext.applicationId, n)
    if key not in _MERGE_TEMPLATES:
        base = tempfile.mkdtemp(prefix="reair_mergescale_")
        atexit.register(shutil.rmtree, base, ignore_errors=True)
        loc = f"{base}/layout"
        seed = spark.range(MERGE_SEED_B * 10).select(
            F.col("id").alias("k"),
            F.col("id").alias("v"),
            (F.col("id") / 10).cast("long").cast("string").alias("bucket"),
        )
        write_zonemapped(seed, loc, "bucket", stat_cols=["v"])
        (
            spark.range(MERGE_SEED_B, n)
            .select(
                F.col("id").cast("string").alias("bucket"),
                ((F.col("id") % 97) + 1).cast("long").alias("n_rows"),
                (F.col("id") * 10).alias("min_v"),
                (F.col("id") * 10 + 9).alias("max_v"),
                F.lit(0).cast("long").alias("n_nulls_v"),
                F.lit(False).alias("replaces"),
            )
            .write.mode("overwrite")
            .parquet(f"{loc}/manifest/ingest=1")
        )
        _MERGE_TEMPLATES[key] = loc
    return _MERGE_TEMPLATES[key]


def merge_scale_scenario(spark: SparkSession, n: int) -> dict:
    """Drive the REAL mutation paths over an n-bucket layout clone:

    1. MERGE touching ``MERGE_SCALE_K`` seed buckets — key k = 10i+3
       gets v = 9000+i (moves each bucket's max_v zone, so a pruning
       readback would notice a stale manifest);
    2. DELETE v ∈ [153, 155] — plans to exactly one bucket ("15");
    3. readback over the seed buckets (count, sum of v).

    Every number is closed-form integer arithmetic (the oracle
    re-derives them from generate_series)."""
    import atexit
    import shutil
    import tempfile

    from reair_spark.sources import zonemap_delete, zonemap_merge, zonemap_scan

    template = synthetic_merge_layout(spark, n)
    run = tempfile.mkdtemp(prefix="reair_mergescale_run_")
    atexit.register(shutil.rmtree, run, ignore_errors=True)
    loc = f"{run}/layout"
    shutil.copytree(template, loc)

    updates = spark.range(MERGE_SCALE_K).select(
        (F.col("id") * 10 + 3).alias("k"),
        (F.col("id") + 9000).alias("v"),
        F.col("id").cast("string").alias("bucket"),
    )
    m = zonemap_merge(spark, loc, updates, key_cols=["k"])
    d = zonemap_delete(spark, loc, predicates=[("v", 153, 155)])
    df, stats = zonemap_scan(
        spark, loc, buckets=[str(i) for i in range(MERGE_SEED_B)]
    )
    agg = df.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("v").cast("long").alias("sum_v"),
    ).collect()[0]
    return {
        "n_buckets_total": stats["n_buckets_total"],
        "n_buckets_affected_merge": m["n_buckets_affected"],
        "n_buckets_affected_delete": d["n_buckets_affected"],
        "n_rows_deleted": d["n_rows_deleted"],
        "n_rows": int(agg["n_rows"]),
        "sum_v": int(agg["sum_v"]),
    }


def merge_scale_digest(spark: SparkSession, sf: str) -> DataFrame:
    """Gate query: the real MERGE + DELETE over a 100k-bucket manifest
    (``sf`` unused — the mutation cost is the k touched buckets, never
    the manifest width). Results ride a range(1) frame."""
    r = merge_scale_scenario(spark, MERGE_SCALE_N)
    return spark.range(1).select(*[
        F.lit(r[c]).cast("long").alias(c)
        for c in (
            "n_buckets_total", "n_buckets_affected_merge",
            "n_buckets_affected_delete", "n_rows_deleted",
            "n_rows", "sum_v",
        )
    ])


def merge_scale_oracle_sql(n: int = MERGE_SCALE_N) -> str:
    rows = MERGE_SEED_B * 10
    return f"""
WITH seed AS (SELECT unnest(generate_series(0, {rows} - 1)) AS v),
upd AS (SELECT unnest(generate_series(0, {MERGE_SCALE_K} - 1)) AS i),
merged AS (
  SELECT v FROM seed WHERE v NOT IN (SELECT i * 10 + 3 FROM upd)
  UNION ALL SELECT 9000 + i AS v FROM upd),
final AS (SELECT v FROM merged WHERE v NOT BETWEEN 153 AND 155)
SELECT CAST({n} AS BIGINT) AS n_buckets_total,
       CAST({MERGE_SCALE_K} AS BIGINT) AS n_buckets_affected_merge,
       CAST(1 AS BIGINT) AS n_buckets_affected_delete,
       (SELECT count(*)::BIGINT FROM merged
         WHERE v BETWEEN 153 AND 155) AS n_rows_deleted,
       (SELECT count(*)::BIGINT FROM final) AS n_rows,
       (SELECT sum(v)::BIGINT FROM final) AS sum_v
"""


# ---------------------------------------------------------------------
# merge-on-read mutations at scale: the SAME upsert + positional
# delete over a 100k-bucket manifest — the harness proof that MOR
# write cost is O(batch) + O(rows deleted): no bucket is rewritten
# (the data tree gains exactly ONE ingest dir, the upsert's own),
# the DV lands in the one bucket the zones kept, and the readback
# resolves masks + positions to the exact closed-form answer.
# ---------------------------------------------------------------------


def mor_scale_scenario(spark: SparkSession, n: int) -> dict:
    """Drive the REAL merge-on-read paths over an n-bucket layout
    clone (same template as the COW merge harness — seed buckets with
    data, phantom manifest rows to width n):

    1. UPSERT (equality deletes): key k = 10i+3 gets v = 9000+i for
       the first MERGE_SCALE_K buckets — one appended ingest dir plus
       per-bucket key files, NOTHING rewritten;
    2. MOR DELETE v ∈ [153, 155] — zones plan it to exactly one
       bucket ("15"); the delete writes 3 row positions, not a
       bucket;
    3. readback over the seed buckets (count, sum of v) resolves
       masks + positions.

    Every number is closed-form integer arithmetic (the oracle
    re-derives them from generate_series)."""
    import atexit
    import os as _os
    import shutil
    import tempfile

    from reair_spark.sources import (
        zonemap_delete,
        zonemap_scan,
        zonemap_upsert_mor,
    )

    template = synthetic_merge_layout(spark, n)
    run = tempfile.mkdtemp(prefix="reair_morscale_run_")
    atexit.register(shutil.rmtree, run, ignore_errors=True)
    loc = f"{run}/layout"
    shutil.copytree(template, loc)

    updates = spark.range(MERGE_SCALE_K).select(
        (F.col("id") * 10 + 3).alias("k"),
        (F.col("id") + 9000).alias("v"),
        F.col("id").cast("string").alias("bucket"),
    )
    u = zonemap_upsert_mor(spark, loc, updates, key_cols=["k"])
    d = zonemap_delete(spark, loc, predicates=[("v", 153, 155)],
                       mode="mor")
    df, stats = zonemap_scan(
        spark, loc, buckets=[str(i) for i in range(MERGE_SEED_B)]
    )
    agg = df.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("v").cast("long").alias("sum_v"),
    ).collect()[0]
    return {
        "n_buckets_total": stats["n_buckets_total"],
        "n_keys_masked": u["n_keys_masked"],
        "n_buckets_affected_delete": d["n_buckets_affected"],
        "n_rows_deleted": d["n_rows_deleted"],
        # the MOR proof: the data tree has exactly 2 ingest dirs —
        # the seed and the upsert's append; neither mutation rewrote
        # a bucket
        "n_data_dirs": len([
            e for e in _os.listdir(f"{loc}/data")
            if e.startswith("ingest=")
        ]),
        "n_rows": int(agg["n_rows"]),
        "sum_v": int(agg["sum_v"]),
    }


def mor_scale_digest(spark: SparkSession, sf: str) -> DataFrame:
    """Gate query: the real merge-on-read upsert + positional delete
    over a 100k-bucket manifest (``sf`` unused — MOR cost is the
    batch and the deleted rows, never the manifest width). Results
    ride a range(1) frame."""
    r = mor_scale_scenario(spark, MERGE_SCALE_N)
    return spark.range(1).select(*[
        F.lit(r[c]).cast("long").alias(c)
        for c in (
            "n_buckets_total", "n_keys_masked",
            "n_buckets_affected_delete", "n_rows_deleted",
            "n_data_dirs", "n_rows", "sum_v",
        )
    ])


def mor_scale_oracle_sql(n: int = MERGE_SCALE_N) -> str:
    rows = MERGE_SEED_B * 10
    return f"""
WITH seed AS (SELECT unnest(generate_series(0, {rows} - 1)) AS v),
upd AS (SELECT unnest(generate_series(0, {MERGE_SCALE_K} - 1)) AS i),
merged AS (
  SELECT v FROM seed WHERE v NOT IN (SELECT i * 10 + 3 FROM upd)
  UNION ALL SELECT 9000 + i AS v FROM upd),
final AS (SELECT v FROM merged WHERE v NOT BETWEEN 153 AND 155)
SELECT CAST({n} AS BIGINT) AS n_buckets_total,
       CAST({MERGE_SCALE_K} AS BIGINT) AS n_keys_masked,
       CAST(1 AS BIGINT) AS n_buckets_affected_delete,
       (SELECT count(*)::BIGINT FROM merged
         WHERE v BETWEEN 153 AND 155) AS n_rows_deleted,
       CAST(2 AS BIGINT) AS n_data_dirs,
       (SELECT count(*)::BIGINT FROM final) AS n_rows,
       (SELECT sum(v)::BIGINT FROM final) AS sum_v
"""


# ---------------------------------------------------------------------
# per-partition publish watermarks at metadata scale (VERDICT r12
# ask #1): the _pubmap side table replaced the descriptor's
# published_partitions map so an incremental publish against a
# million-partition table never round-trips an O(partitions) blob.
# This harness drives the REAL diff helpers the publish runs
# (_pubmap_diff / _pubmap_change_sets / _pubmap_co_read) over a
# range-generated watermark state — zero createDataFrame rows,
# zero driver-side partition maps — and proves the driver
# materializations are CHANGE-sized.
# ---------------------------------------------------------------------

PUBMAP_GATE_N = 100_000
PUBMAP_CHANGED_ID = 17  # the one partition whose tldt moves
_PUBMAP_SCALE_STATE: dict = {}


def _pubmap_mod(n: int) -> int:
    """Bucket modulus for the scenario: ~64 partitions per bucket at
    EVERY n (bucket count grows with the table, as a real clustered
    layout's does) — so the co-read set, which is inherently
    partitions-per-affected-bucket, stays FLAT as the table grows.
    A fixed modulus would make co-read linear in n and measure the
    scenario, not the engine."""
    return max(64, n // 64)


def synthetic_pubmap_state(spark: SparkSession, n: int) -> str:
    """Watermark side table for ``n`` synthetic partitions, written by
    the REAL append path from one range-generated delta: pname
    ``om=<i>``, tldt ``'100'``, buckets ``[str(i % 64)]`` — bucket
    membership is closed-form, so the co-read set is oracle-derivable
    by modular arithmetic alone. Cached per (app, n); read-only."""
    import atexit
    import shutil
    import tempfile

    from reair_spark.replicate import _pubmap_append

    key = (spark.sparkContext.applicationId, n)
    if key not in _PUBMAP_SCALE_STATE:
        base = tempfile.mkdtemp(prefix="reair_pubmap_")
        atexit.register(shutil.rmtree, base, ignore_errors=True)
        _pubmap_append(spark, base, spark.range(n).select(
            F.concat(F.lit("om="), F.col("id").cast("string"))
            .alias("pname"),
            F.lit("100").alias("tldt"),
            F.array(
                F.pmod(F.col("id"), F.lit(_pubmap_mod(n))).cast("string")
            ).alias("buckets"),
            F.lit(False).alias("dropped"),
        ))
        _PUBMAP_SCALE_STATE[key] = base
    return _PUBMAP_SCALE_STATE[key]


def pubmap_diff_scale(spark: SparkSession, n: int) -> dict:
    """Drive the real Spark-side watermark diff over ``n`` recorded
    partitions where exactly ONE tldt moved (id 17 → '200') and ONE
    partition was dropped (the last). What comes back to the driver —
    and what this returns — is the CHANGE set: one changed name, one
    dropped name, and the co-read names sharing their buckets."""
    from reair_spark.replicate import (
        _pubmap_change_sets,
        _pubmap_co_read,
        _pubmap_diff,
        _pubmap_read,
    )

    loc = synthetic_pubmap_state(spark, n)
    recorded = _pubmap_read(spark, loc)
    cur = spark.range(n - 1).select(
        F.concat(F.lit("om="), F.col("id").cast("string"))
        .alias("pname"),
        F.when(F.col("id") == PUBMAP_CHANGED_ID, "200")
        .otherwise("100").alias("tldt"),
    )
    j, unchanged = _pubmap_diff(cur, recorded)
    changed, dropped, rec_buckets = _pubmap_change_sets(j, unchanged)
    co_read = _pubmap_co_read(j, unchanged, rec_buckets)
    return {
        "n_recorded": n,
        "n_changed": len(changed),
        "n_dropped": len(dropped),
        "n_affected_buckets": len(rec_buckets),
        "n_co_read": len(co_read),
    }


def pubmap_scale_digest(spark: SparkSession, sf: str) -> DataFrame:
    """Gate query: the watermark diff at 100k partitions (``sf``
    unused — watermark volume is metadata). Stats ride a range(1)
    frame; the oracle re-derives the co-read count from the modular
    bucket rule."""
    stats = pubmap_diff_scale(spark, PUBMAP_GATE_N)
    return spark.range(1).select(
        F.lit(stats["n_recorded"]).cast("long").alias("n_recorded"),
        F.lit(stats["n_changed"]).cast("long").alias("n_changed"),
        F.lit(stats["n_dropped"]).cast("long").alias("n_dropped"),
        F.lit(stats["n_affected_buckets"]).cast("long")
        .alias("n_affected_buckets"),
        F.lit(stats["n_co_read"]).cast("long").alias("n_co_read"),
    )


def pubmap_scale_oracle_sql(n: int = PUBMAP_GATE_N) -> str:
    c, m = PUBMAP_CHANGED_ID, _pubmap_mod(n)
    return f"""
WITH cur AS (SELECT unnest(generate_series(0, {n} - 2)) AS i)
SELECT {n}::BIGINT AS n_recorded,
       1::BIGINT AS n_changed,
       1::BIGINT AS n_dropped,
       (CASE WHEN {c} % {m} = ({n} - 1) % {m} THEN 1 ELSE 2 END)::BIGINT
           AS n_affected_buckets,
       (SELECT count(*)::BIGINT FROM cur
        WHERE i <> {c}
          AND (i % {m} = {c} % {m} OR i % {m} = ({n} - 1) % {m}))
           AS n_co_read
"""


def pubmap_measure_scale(
    spark: SparkSession, sizes: tuple[int, ...] = (10_000, 100_000)
) -> list[dict]:
    """Wall + job counts + driver-collected row counts for the
    watermark diff at each partition count — the evidence that the
    change-set collects stay FLAT while the table grows 10×."""
    sc = spark.sparkContext
    out = []
    for n in sizes:
        synthetic_pubmap_state(spark, n)  # build outside the timer
        group = f"pubmapscale-{n}"
        sc.setJobGroup(group, f"pubmap diff scale n={n}")
        t0 = time.time()
        stats = pubmap_diff_scale(spark, n)
        wall = time.time() - t0
        sc.setJobGroup("", "")
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        out.append({
            "n_partitions": n,
            "wall_s": round(wall, 2),
            "spark_jobs": jobs,
            "driver_rows_collected": (
                stats["n_changed"] + stats["n_dropped"]
                + stats["n_co_read"]
            ),
            **{k: v for k, v in stats.items() if k != "n_recorded"},
        })
    return out
