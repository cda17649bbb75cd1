"""Standalone directory-tree sync — the batch/hdfs/ReplicationJob
entry point (ReplicationJob.java:61-103):

  job 1  parallel recursive listing of src+dest (S3/S4) → full-outer
         join on rel_path (J3) → ADD/UPDATE/DELETE/NO_OP plan,
         multi-source conflicts resolved by max mtime (W1)
  job 2  plan → hash-rebalanced executor copies (X8) + optional
         deletes (the reference left DELETE unimplemented,
         ReplicationJob.java:100-102 — we implement it behind a flag)

Dry-run stops after job 1 (run:536-541 parity).
"""

from __future__ import annotations

import os
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from reair_spark.copy import execute_copies
from reair_spark.inventory import list_files

SYNC_ACTIONS = ("ADD", "UPDATE", "DELETE", "NO_OP")


def sync_plan(
    spark: SparkSession,
    src_roots: list[str],
    dest_root: str,
    compare_mtime: bool = False,
) -> DataFrame:
    """One full-outer join replaces the reference's shuffle-on-relpath
    MR reducer (DirectoryCompareReducer:215-319). Multiple src roots →
    latest mtime wins per rel_path (findSrcFileStatus:222-230).

    ``compare_mtime=True`` requires a destination FS that persists
    mtimes (``preserves_mtime``); on an object-store-style backend
    (ArrowFs: set_mtime is a validated no-op) dest mtime would never
    equal src mtime and every sync would re-copy the full tree, so
    the combination is rejected loudly instead."""
    if compare_mtime:
        from reair_spark.fs import fs_for

        dest_fs = fs_for(dest_root)
        if not getattr(dest_fs, "preserves_mtime", True):
            raise ValueError(
                f"compare_mtime=True is incompatible with dest scheme "
                f"{dest_fs.scheme!r}: its filesystem cannot persist "
                f"mtimes (set_mtime is a no-op), so mtime equality "
                f"would never hold and every sync would re-copy the "
                f"full tree. Use the default size-keyed comparison."
            )
    # a missing dest root simply lists empty — the executor-side scan
    # drops nonexistent roots, so no driver isdir probe is needed
    return sync_plan_from_listings(
        list_files(spark, src_roots),
        list_files(spark, [dest_root]),
        compare_mtime=compare_mtime,
    )


def sync_plan_from_listings(
    src: DataFrame, dest: DataFrame, compare_mtime: bool = False
) -> DataFrame:
    """The diff core of :func:`sync_plan` over PRE-BUILT listings in
    ``list_files`` shape (root, rel_path, size, mtime) — the seam the
    file-inventory scale harness drives with range-generated
    million-file listings (scalebench.file_scale_digest), so the gate
    exercises the SAME join/window/action code the real tree sync
    runs. Reference design point: file-granular diff in
    ReplicationJob.DirectoryCompareReducer:215-319."""
    w = W.partitionBy("rel_path").orderBy(F.desc("mtime"), "root")
    src_latest = (
        src.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("root").alias("src_root"),
            "rel_path",
            F.col("size").alias("src_size"),
            F.col("mtime").alias("src_mtime"),
        )
    )
    dest = dest.select(
        "rel_path", F.col("size").alias("dest_size"), F.col("mtime").alias("dest_mtime")
    )

    joined = src_latest.join(dest, "rel_path", "full_outer")
    same = (F.col("src_size") == F.col("dest_size")) & (
        (F.col("src_mtime") == F.col("dest_mtime")) if compare_mtime else F.lit(True)
    )
    action = (
        F.when(F.col("dest_size").isNull(), "ADD")
        .when(F.col("src_size").isNull(), "DELETE")
        .when(same, "NO_OP")
        .otherwise("UPDATE")
    )
    return joined.select(
        action.alias("action"),
        "rel_path",
        "src_root",
        F.col("src_size").alias("size"),
        F.col("src_mtime").alias("mtime"),
    )


def sync_copy_tasks(plan: DataFrame, dest_root: str) -> DataFrame:
    """ADD/UPDATE plan rows → per-file copy-task rows (src_file,
    dest_file, size, mtime) — the stage-2 mapper emit
    (Stage2DirectoryCopyMapper.java:55-66). Shared by the real
    execute_sync and the file-inventory scale gate."""
    return plan.filter(F.col("action").isin("ADD", "UPDATE")).select(
        F.concat_ws("/", "src_root", "rel_path").alias("src_file"),
        F.concat_ws("/", F.lit(dest_root), "rel_path").alias("dest_file"),
        "size",
        "mtime",
    )


def execute_sync(
    spark: SparkSession,
    plan: DataFrame,
    dest_root: str,
    delete_extraneous: bool = False,
    trash_dir: str | None = None,
    verify_checksum: bool = False,
) -> DataFrame:
    """Job 2: copies for ADD/UPDATE (re-keyed by hash — X8), optional
    deletes for dest-only files.

    ``trash_dir`` switches deletes to HDFS-Trash-style moves: each
    extra file is renamed to ``trash_dir/<rel_path>`` (status TRASHED)
    instead of unlinked. At 100 TB a bad src listing turns DELETE into
    a mass-wipe; trash keeps it recoverable and the rename is O(1)
    metadata per file either way."""
    tasks = sync_copy_tasks(plan, dest_root)
    results = execute_copies(spark, tasks, verify_checksum=verify_checksum)

    if delete_extraneous:
        from reair_spark.fs import fs_registry
        from reair_spark.shipping import ensure_shipped

        ensure_shipped(spark)
        deletes = plan.filter(F.col("action") == "DELETE").select("rel_path")
        fses = fs_registry()  # driver registry snapshot rides the closure

        def run(rows: Iterator) -> Iterator[tuple]:
            import posixpath

            from reair_spark.fs import fs_for

            for r in rows:
                path = f"{dest_root.rstrip('/')}/{r.rel_path}"
                fs = fs_for(path, fses)
                try:
                    if trash_dir is not None:
                        # trash move stays within the dest scheme
                        # (rename is O(1) only same-FS)
                        target = f"{trash_dir.rstrip('/')}/{r.rel_path}"
                        fs.mkdirs(posixpath.dirname(target))
                        fs.rename(path, target)
                        yield (path, target, "TRASHED", 0, None)
                    else:
                        fs.unlink(path)
                        yield (path, path, "DELETED", 0, None)
                except (OSError, ValueError) as exc:
                    # ValueError: e.g. a trash_dir on a different
                    # scheme than dest — a per-row FAILED record, not
                    # a task crash
                    yield (path, path, "FAILED", 0, str(exc))

        del_results = spark.createDataFrame(
            deletes.rdd.mapPartitions(run), results.schema
        )
        results = results.union(del_results)
    # side-effecting stage: run once, with no lineage left to re-run
    return results.localCheckpoint(eager=True)


def sync_directories(
    spark: SparkSession,
    src_roots: list[str],
    dest_root: str,
    dry_run: bool = False,
    delete_extraneous: bool = False,
    compare_mtime: bool = False,
    trash_dir: str | None = None,
    verify_checksum: bool = False,
) -> dict[str, DataFrame]:
    plan = sync_plan(spark, src_roots, dest_root, compare_mtime)
    if dry_run:  # reference parity: stop after job 1
        return {"plan": plan, "results": None}
    return {
        "plan": plan,
        "results": execute_sync(
            spark, plan, dest_root, delete_extraneous, trash_dir,
            verify_checksum=verify_checksum,
        ),
    }
