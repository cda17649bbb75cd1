"""The benchmark workloads.

Each workload is a closed loop with one client: the next op starts only
after the previous one returns. ``build`` writes the fixture, source and
an already-synced destination, with the Python stdlib or pyarrow, never
through the engine. ``mutate`` makes the seeded source-side change for
the next op, outside the timed region. ``op`` is the timed call into the
engine. ``check`` verifies the op's output with code that does not use
the engine, and ``counts`` reads the op's copy and commit outcome rows.

The engine functions are imported by name into this module, so the
tracer wraps them here, in the namespace of their caller, exactly as it
wraps the engine's own cross-module calls.
"""

from __future__ import annotations

import datetime
import json
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from reair_spark.dirsync import sync_directories
from reair_spark.events import run_incremental
from reair_spark.replicate import replicate_warehouse
from reair_spark.sources import (
    write_zonemapped,
    zonemap_changes,
    zonemap_replace_buckets,
    zonemap_scan,
    zonemap_upsert_mor,
)

DB = "bench"


# ---------------------------------------------------------------------------
# stdlib fixture helpers
# ---------------------------------------------------------------------------

def write_file(path: str, data: bytes) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as fh:
        fh.write(data)


def tree_sizes(root: str) -> dict[str, int]:
    """rel_path -> size of every visible file under ``root`` (names
    starting with '_' or '.' are hidden, as in a Hive warehouse)."""
    out = {}
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames if not d.startswith(("_", "."))]
        for f in filenames:
            if not f.startswith(("_", ".")):
                p = os.path.join(dirpath, f)
                out[os.path.relpath(p, root)] = os.path.getsize(p)
    return out


def write_record(root: str, rec: dict) -> None:
    """Atomically replace one table record of a directory catalog
    (``<root>/_catalog/<db>/<table>.json``)."""
    path = os.path.join(root, "_catalog", rec["db"], f"{rec['table']}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "w") as fh:
        json.dump(rec, fh, sort_keys=True)
    os.replace(path + ".tmp", path)


def read_records(root: str) -> dict[str, dict]:
    d = os.path.join(root, "_catalog", DB)
    out = {}
    for name in sorted(os.listdir(d)) if os.path.isdir(d) else []:
        if name.endswith(".json") and not name.startswith("."):
            with open(os.path.join(d, name)) as fh:
                out[name[:-5]] = json.load(fh)
    return out


def relocated(rec: dict, src_root: str, dest_root: str) -> dict:
    """The record as the destination must hold it: every location
    rewritten from the source root to the destination root."""
    def fix(v):
        if isinstance(v, dict):
            return {k: (dest_root + x[len(src_root):]
                        if k == "location" and isinstance(x, str)
                        and x.startswith(src_root) else fix(x))
                    for k, x in v.items()}
        if isinstance(v, list):
            return [fix(x) for x in v]
        return v
    return fix(rec)


def warehouse_mismatches(src_root: str, dest_root: str) -> list[str]:
    """Differences between two warehouses: data files by (path, size)
    and catalog records after the location rewrite."""
    bad = []
    s, d = tree_sizes(src_root), tree_sizes(dest_root)
    if s != d:
        diff = sorted(set(s.items()) ^ set(d.items()))
        bad.append(f"{len(diff)} file(s) differ, e.g. {diff[:2]}")
    sr, dr = read_records(src_root), read_records(dest_root)
    if sorted(sr) != sorted(dr):
        bad.append(f"table sets differ: {sorted(set(sr) ^ set(dr))[:5]}")
    wrong = [t for t in sorted(set(sr) & set(dr))
             if relocated(sr[t], src_root, dest_root) != dr[t]]
    if wrong:
        bad.append(f"{len(wrong)} catalog record(s) differ, e.g. {wrong[0]}")
    return bad


class Warehouse:
    """A partitioned source warehouse (``tables`` x ``parts``
    partitions, ``files`` files of about ``file_bytes`` each) and a
    destination that already replicates it."""

    def __init__(self, root: str, tables: int, parts: int, files: int,
                 file_bytes: int, rng: random.Random):
        self.src = f"{root}/src_wh"
        self.dest = f"{root}/dest_wh"
        self.rng = rng
        self.files = files
        self.file_bytes = file_bytes
        self.tables = [f"t{i:03d}" for i in range(tables)]
        self.parts = [f"ds={j:04d}" for j in range(parts)]
        self.tldt = 1_000_000
        self.records = {}
        for t in self.tables:
            for p in self.parts:
                for k in range(files):
                    self._write_data(t, p, k)
            self.records[t] = self._record(t)
            write_record(self.src, self.records[t])
        shutil.copytree(self.src, self.dest)
        for rec in self.records.values():
            write_record(self.dest, relocated(rec, self.src, self.dest))

    @property
    def n_objects(self) -> int:
        return len(self.tables) * (1 + len(self.parts))

    def _record(self, table: str) -> dict:
        loc = f"{self.src}/{DB}/{table}"
        params = {"transient_lastDdlTime": str(self.tldt)}
        return {
            "db": DB,
            "table": table,
            "table_type": "MANAGED_TABLE",
            "cols": [{"name": "payload", "type": "binary", "comment": ""}],
            "partition_keys": [{"name": "ds", "type": "string", "comment": ""}],
            "location": loc,
            "serde": "text",
            "parameters": dict(params),
            "partitions": [
                {"partition_name": p, "values": [p.split("=", 1)[1]],
                 "location": f"{loc}/{p}", "parameters": dict(params)}
                for p in self.parts
            ],
        }

    def _write_data(self, table: str, part: str, k: int) -> None:
        # the size varies per rewrite, so every rewrite changes the
        # (path, size) content digest the replication diff compares
        size = self.file_bytes + self.rng.randrange(1, 4096)
        write_file(f"{self.src}/{DB}/{table}/{part}/part-{k:05d}",
                   self.rng.randbytes(size))

    def rewrite_partitions(self, picks: list[tuple[str, str]]) -> None:
        """Rewrite one file of each picked partition and bump the
        partition's transient_lastDdlTime, as an INSERT OVERWRITE of
        that partition would."""
        self.tldt += 1
        for t, p in picks:
            self._write_data(t, p, self.rng.randrange(self.files))
            for rec in self.records[t]["partitions"]:
                if rec["partition_name"] == p:
                    rec["parameters"]["transient_lastDdlTime"] = str(self.tldt)
        for t in sorted({t for t, _ in picks}):
            write_record(self.src, self.records[t])


def replication_counts(metrics: dict) -> dict:
    """Copy and commit outcome counts from ``replicate_warehouse``'s
    observed stage metrics."""
    cp, cm = metrics.get("copy") or {}, metrics.get("commit") or {}
    return {
        "copy.files_attempted": int(cp.get("n_files") or 0),
        "copy.files_copied": int(cp.get("n_success") or 0),
        "copy.files_failed": int(cp.get("n_failed") or 0),
        "copy.bytes": int(cp.get("bytes_copied") or 0),
        "commit.actions": int(cm.get("n_actions") or 0),
        "commit.applied": int(cm.get("n_applied") or 0),
        "commit.failed": int(cm.get("n_failed") or 0),
    }


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------

class Workload:
    name = ""
    item = ""    # what items_per_s counts
    WARMUP = 1   # untimed ops before the timed region
    # seconds of --seconds budgeted per timed op: a run times
    # round(--seconds / NOMINAL_OP_S) ops, at least two
    NOMINAL_OP_S = 1.0

    def __init__(self, spark, seed: int):
        self.spark = spark
        self.rng = random.Random(seed)

    def build(self, root: str) -> None: ...
    def mutate(self) -> None: ...
    def op(self): ...

    def check(self, result) -> list[str]:
        """Mismatch descriptions; an empty list means the output is right."""
        return []

    def final_check(self) -> list[str]:
        """Mismatches in state that ``check`` leaves to the end of the run."""
        return []

    def counts(self, result) -> dict:
        """Copy/commit outcome counts of one op (zeros where none)."""
        return {}

    def items(self, result) -> int:
        """Items one op completed."""
        return 0


class BatchDelta(Workload):
    """Nightly batch resync of a warehouse where 2 % of the partitions
    changed since the last run (MetastoreReplicationJob)."""

    name = "batch_delta"
    item = "catalog objects reconciled"
    NOMINAL_OP_S = 10.0
    TABLES, PARTS, FILES, FILE_BYTES = 16, 32, 2, 16 * 1024
    CHANGED_SHARE = 0.02

    def build(self, root: str) -> None:
        self.wh = Warehouse(root, self.TABLES, self.PARTS, self.FILES,
                            self.FILE_BYTES, self.rng)

    def mutate(self) -> None:
        allp = [(t, p) for t in self.wh.tables for p in self.wh.parts]
        n = max(1, round(len(allp) * self.CHANGED_SHARE))
        self.wh.rewrite_partitions(sorted(self.rng.sample(allp, n)))

    def op(self):
        return replicate_warehouse(self.spark, self.wh.src, self.wh.dest)

    def check(self, result) -> list[str]:
        return warehouse_mismatches(self.wh.src, self.wh.dest)

    def counts(self, result) -> dict:
        return replication_counts(result["metrics"])

    def items(self, result) -> int:
        return self.wh.n_objects


def _event_schema():
    obj = pa.struct([("category", pa.string()), ("obj_type", pa.string()),
                     ("name", pa.string()), ("payload", pa.string())])
    return pa.schema([("id", pa.int64()), ("create_time", pa.timestamp("us")),
                      ("command_type", pa.string()), ("command", pa.string()),
                      ("objects", pa.list_(obj))])


class IncrementalLog(Workload):
    """The incremental daemon's batch loop over an audit log of
    partition writes (ReplicationLauncher)."""

    name = "incremental_log"
    item = "audit events applied"
    NOMINAL_OP_S = 10.0
    TABLES, PARTS, FILES, FILE_BYTES = 16, 32, 1, 8 * 1024
    BATCH = 32

    def __init__(self, spark, seed: int):
        super().__init__(spark, seed)
        # run_incremental returns no copy/commit rows; keep the result of
        # the replication it runs (a pass-through, no timing)
        import reair_spark.events as events

        inner = events.replicate_warehouse
        self.last_replication = None

        def keep(*a, **k):
            self.last_replication = inner(*a, **k)
            return self.last_replication

        events.replicate_warehouse = keep

    def build(self, root: str) -> None:
        self.wh = Warehouse(root, self.TABLES, self.PARTS, self.FILES,
                            self.FILE_BYTES, self.rng)
        self.state = f"{root}/state"
        self.log = f"{root}/audit_log"
        os.makedirs(self.log)
        self.next_id = 1

    def mutate(self) -> None:
        """Apply the source writes of the next BATCH audit events and
        append those events to the log (one parquet file per batch)."""
        rows = []
        for _ in range(self.BATCH):
            t = self.rng.choice(self.wh.tables)
            parts = sorted(self.rng.sample(self.wh.parts, self.rng.randint(1, 3)))
            self.wh.rewrite_partitions([(t, p) for p in parts])
            rows.append({
                "id": self.next_id,
                "create_time": datetime.datetime(2024, 1, 1)
                + datetime.timedelta(seconds=self.next_id),
                "command_type": "QUERY",
                "command": f"INSERT OVERWRITE TABLE {DB}.{t} PARTITION (ds)",
                "objects": [{"category": "OUTPUT", "obj_type": "PARTITION",
                             "name": f"{DB}.{t}/{p}", "payload": "{}"}
                            for p in parts],
            })
            self.next_id += 1
        pq.write_table(pa.Table.from_pylist(rows, schema=_event_schema()),
                       f"{self.log}/batch-{self.next_id:09d}.parquet")
        self.events = self.spark.read.parquet(self.log)
        self.last_replication = None

    def op(self):
        return run_incremental(
            self.spark, self.events, self.wh.src, self.wh.dest, self.state,
            batch_size=self.BATCH, max_batches=1,
        )

    def check(self, result) -> list[str]:
        bad = []
        if result["last_id"] != self.next_id - 1:
            bad.append(f"checkpoint at {result['last_id']}, "
                       f"log ends at {self.next_id - 1}")
        failed = {k: v for k, v in (result["job_status_counts"] or {}).items()
                  if k != "SUCCESSFUL" and v}
        if failed:
            bad.append(f"jobs not successful: {failed}")
        return bad + warehouse_mismatches(self.wh.src, self.wh.dest)

    def counts(self, result) -> dict:
        rep = self.last_replication
        out = replication_counts(rep["metrics"]) if rep else {}
        log = f"{self.state}/replication_jobs"
        out["state.log_files"] = sum(
            1 for f in os.listdir(log) if not f.startswith((".", "_")))
        return out

    def items(self, result) -> int:
        return self.BATCH


class DirSync(Workload):
    """Directory-tree sync where a quarter of the destination files went
    missing since the last run (batch/hdfs/ReplicationJob)."""

    name = "dir_sync"
    item = "source files reconciled"
    NOMINAL_OP_S = 4.0
    FANOUT, FILE_BYTES = (8, 8, 16), 16 * 1024
    LOST_SHARE = 0.25
    WARMUP = 2

    def build(self, root: str) -> None:
        self.src = f"{root}/src_tree"
        self.dest = f"{root}/dest_tree"
        a, b, c = self.FANOUT
        for i in range(a):
            for j in range(b):
                for k in range(c):
                    write_file(f"{self.src}/d{i:02d}/e{j:02d}/f{k:03d}.bin",
                               self.rng.randbytes(self.FILE_BYTES))
        shutil.copytree(self.src, self.dest)
        self.expected = tree_sizes(self.src)

    def mutate(self) -> None:
        paths = sorted(self.expected)
        for rel in self.rng.sample(paths, round(len(paths) * self.LOST_SHARE)):
            os.unlink(f"{self.dest}/{rel}")

    def op(self):
        return sync_directories(self.spark, [self.src], self.dest)

    def check(self, result) -> list[str]:
        got = tree_sizes(self.dest)
        if got != self.expected:
            n = len(set(got.items()) ^ set(self.expected.items()))
            return [f"{n} file(s) differ from the source"]
        return []

    def counts(self, result) -> dict:
        by = {r["status"]: (r["n"], r["b"]) for r in
              result["results"].groupBy("status")
              .agg(F.count("*").alias("n"), F.sum("bytes_copied").alias("b"))
              .collect()}
        return {
            "copy.files_attempted": sum(n for n, _ in by.values()),
            "copy.files_copied": by.get("COPIED", (0, 0))[0],
            "copy.files_failed": by.get("FAILED", (0, 0))[0],
            "copy.bytes": int(sum(b or 0 for _, b in by.values())),
        }

    def items(self, result) -> int:
        return len(self.expected)


class CdfSync(Workload):
    """Change-feed driven replication of a zone-mapped table: one
    merge-on-read upsert commit on the source (new rows plus an
    equality-delete set), then one sync of the feed into the
    destination, the ``cdf_incremental_sync`` composition."""

    name = "cdf_sync"
    item = "change rows applied"
    NOMINAL_OP_S = 10.0
    ROWS, BUCKETS, UPSERT = 4_000, 4, 200
    PRICE_MAX = 1_000_000.0
    COLS = ["k", "price", "bucket"]
    STATS = ["k", "price"]

    def build(self, root: str) -> None:
        self.src = f"{root}/src"
        self.dest = f"{root}/dest"
        self.model = {k: self._price() for k in range(self.ROWS)}  # key -> price
        os.makedirs(root)
        raw = f"{root}/seed.parquet"
        pq.write_table(pa.Table.from_pylist(self._rows(self.model)), raw)
        # the table format is the engine's own: the seed rows come from
        # pyarrow, the source layout from the engine's writer, and the
        # destination starts as a byte copy of it
        write_zonemapped(self.spark.read.parquet(raw), self.src, "bucket",
                         self.STATS)
        shutil.copytree(self.src, self.dest)
        self.synced = self._max_ingest()

    def _price(self) -> float:
        return round(self.rng.uniform(0, self.PRICE_MAX), 2)

    def _rows(self, model: dict) -> list[dict]:
        return [{"k": k, "price": p, "bucket": k % self.BUCKETS}
                for k, p in sorted(model.items())]

    def _max_ingest(self) -> int:
        """Highest ingest id named by the source layout's directories."""
        ids = [0]
        for sub in os.listdir(self.src):
            d = f"{self.src}/{sub}"
            if os.path.isdir(d):
                ids += [int(e[7:]) for e in os.listdir(d)
                        if e.startswith("ingest=") and e[7:].isdigit()]
        return max(ids)

    def mutate(self) -> None:
        """Draw this op's upsert; the commit itself is part of the op."""
        self.upserted = {k: self._price()
                         for k in self.rng.sample(sorted(self.model), self.UPSERT)}
        self.upsert_df = self.spark.createDataFrame(
            [(r["k"], r["price"], r["bucket"]) for r in self._rows(self.upserted)],
            "k long, price double, bucket long",
        )

    def op(self):
        zonemap_upsert_mor(self.spark, self.src, self.upsert_df, key_cols=["k"])
        ch, stats = zonemap_changes(self.spark, self.src, from_ingest=self.synced)
        ch = ch.localCheckpoint(eager=True)
        buckets = [str(r[0]) for r in
                   ch.select(ch["bucket"].cast("string")).distinct().collect()]
        dest_cur, _ = zonemap_scan(self.spark, self.dest, buckets=buckets)
        dels = ch.where("_change_type = 'delete'").select(*self.COLS)
        ins = ch.where("_change_type = 'insert'").select(*self.COLS)
        # inserts join before deletes subtract: a row inserted and then
        # deleted inside one feed is in ``ins`` and ``dels`` but never in
        # ``dest_cur``, so subtracting first would resurrect it
        view = dest_cur.select(*self.COLS).unionByName(ins).exceptAll(dels)
        zonemap_replace_buckets(self.spark, self.dest, view, buckets)
        return {"changes": ch, "stats": stats}

    def _mismatch(self, side: str, loc: str) -> list[str]:
        t = zonemap_scan(self.spark, loc)[0].select("k", "price").toArrow()
        got = sorted(zip(t.column("k").to_pylist(), t.column("price").to_pylist()))
        if got != sorted(self.model.items()):
            return [f"{side} holds {len(got)} rows, the model "
                    f"{len(self.model)}, or their values differ"]
        return []

    def check(self, result) -> list[str]:
        # the destination is built from the source's change feed, so this
        # checks each upsert as the feed reports it; the source's own scan
        # is compared once, at the end of the run
        self.model.update(self.upserted)
        self.synced = max(int(i) for i in result["stats"]["commit_ingests"])
        return self._mismatch("destination", self.dest)

    def final_check(self) -> list[str]:
        return self._mismatch("source", self.src)

    def counts(self, result) -> dict:
        return {"sources.commits_in_feed": int(result["stats"]["n_commits"])}

    def items(self, result) -> int:
        return result["changes"].count()


WORKLOADS = {w.name: w for w in (BatchDelta, IncrementalLog, DirSync, CdfSync)}
