"""Per-layer tracing from outside the engine.

Spans: each public engine function is wrapped in the namespace of the
module that calls it (``reair_spark.replicate.list_files``,
``reair_spark.events.replicate_warehouse``, ...), because modules import
functions by name. A span records its layer label, its parent, its wall
interval and the py4j round-trips made inside it; spans stay in memory
and are reduced per op.

py4j: every round-trip to the JVM goes through the gateway client's
``send_command``, which is counted while tracing is active.

Spark: the jobs an op ran are the job-id range between two reads of the
DAG scheduler's next id; their walls, tasks, task time and shuffle bytes
come from the JVM ``AppStatusStore``, which works with the UI off.

Lazy layers (``diff``, the copy and commit planning functions,
``events.compile_jobs``) return DataFrames: their spans hold only the
plan-build time, and the execution lands in the caller's action, so it
counts as the caller's self time.
"""

from __future__ import annotations

import importlib
import time

# (module that makes the call, or module:Class for methods, function
# name, span label). A label's layer is the part before the first dot.
# The ops' own entry points (``run_incremental``, ``sync_directories``)
# are left unwrapped, so their glue between the named layers shows up
# as ``op.unattributed_s``; ``replicate_warehouse`` is wrapped, because
# its self time is the ``replicate`` layer.
WRAPS = [
    ("replbench.workloads", "replicate_warehouse", "replicate"),
    ("replbench.workloads", "zonemap_upsert_mor", "sources.commit"),
    ("replbench.workloads", "zonemap_changes", "sources.changes"),
    ("replbench.workloads", "zonemap_scan", "sources.scan"),
    ("replbench.workloads", "zonemap_replace_buckets", "sources.replace"),
    ("reair_spark.events", "compile_jobs", "events.compile"),
    ("reair_spark.events", "replicate_warehouse", "replicate"),
    ("reair_spark.state:JobStore", "__init__", "state.open"),
    ("reair_spark.state:JobStore", "append_rows", "state.append"),
    ("reair_spark.state:JobStore", "append", "state.append"),
    ("reair_spark.state:JobStore", "status_summary", "state.summary"),
    ("reair_spark.state:KeyValueStore", "get", "state.kv"),
    ("reair_spark.state:KeyValueStore", "set", "state.kv"),
    ("reair_spark.replicate", "snapshot_tables", "catalog.snapshot"),
    ("reair_spark.replicate", "snapshot_partitions", "catalog.snapshot"),
    ("reair_spark.replicate", "list_files", "inventory.list"),
    ("reair_spark.replicate", "dir_digest", "inventory.list"),
    ("reair_spark.replicate", "warehouse_plan", "diff.build"),
    ("reair_spark.replicate", "plan_copy_tasks", "copy.stage"),
    ("reair_spark.replicate", "execute_copies", "copy.stage"),
    ("reair_spark.replicate", "copy_summary", "copy.stage"),
    ("reair_spark.replicate", "rewrite_locations", "commit.stage"),
    ("reair_spark.replicate", "execute_commits", "commit.stage"),
    ("reair_spark.replicate", "apply_commits_driver", "commit.stage"),
    ("reair_spark.dirsync", "sync_plan", "dirsync.plan"),
    ("reair_spark.dirsync", "execute_sync", "dirsync.execute"),
    ("reair_spark.dirsync", "list_files", "inventory.list"),
    ("reair_spark.dirsync", "execute_copies", "copy.stage"),
]

LAYERS = ("catalog", "inventory", "diff", "copy", "commit", "replicate",
          "events", "state", "dirsync", "sources")

# job descriptions replicate.py sets per stage -> metric
STAGE_JOBS = {
    "replicate: stage1": "replicate.stage1_job_s",
    "replicate: stage2": "replicate.stage2_job_s",
    "replicate: stage3": "replicate.stage3_job_s",
}


def _resolve(owner: str):
    """'pkg.module' or 'pkg.module:Class' -> the object to patch."""
    mod, _, cls = owner.partition(":")
    target = importlib.import_module(mod)
    return getattr(target, cls) if cls else target


class Span:
    __slots__ = ("label", "parent", "t0", "t1", "w0", "w1", "p0", "p1")

    def __init__(self, label, parent, t0, w0, p0):
        self.label, self.parent = label, parent
        self.t0, self.w0, self.p0 = t0, w0, p0

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.active = False
        self.py4j = 0
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command

        def counted(*a, **k):
            if self.active:
                self.py4j += 1
            return send(*a, **k)

        client.send_command = counted
        for owner, name, label in WRAPS:
            target = _resolve(owner)
            setattr(target, name, self._wrap(getattr(target, name), label))

    def _wrap(self, fn, label):
        def traced(*a, **k):
            if not self.active:
                return fn(*a, **k)
            parent = self._stack[-1] if self._stack else None
            s = Span(label, parent, time.perf_counter(), time.time(), self.py4j)
            self._stack.append(s)
            try:
                return fn(*a, **k)
            finally:
                s.t1, s.w1, s.p1 = time.perf_counter(), time.time(), self.py4j
                self._stack.pop()
                self.spans.append(s)

        traced.__wrapped__ = fn
        return traced

    # -- one op -----------------------------------------------------------
    def start(self):
        self.spans, self._stack = [], []
        self.active = True
        return self.py4j

    def stop(self):
        self.active = False
        return self.py4j

    def jobs(self, j0: int, j1: int) -> list[dict]:
        """Spark jobs [j0, j1) from the AppStatusStore: submit/end wall
        (epoch s), description, tasks, task time and shuffle bytes."""
        sc = self.spark.sparkContext._jsc.sc()
        sc.listenerBus().waitUntilEmpty()
        store = sc.statusStore()
        out, seen = [], set()
        for jid in range(j0, j1):
            jd = store.job(jid)
            sub, end = jd.submissionTime(), jd.completionTime()
            desc = jd.description()
            task_ms = shuffle = 0
            it = jd.stageIds().iterator()
            while it.hasNext():
                sid = it.next()
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # a skipped stage has no attempt
                    continue
                task_ms += st.executorRunTime()
                shuffle += st.shuffleWriteBytes()
            out.append({
                "w0": sub.get().getTime() / 1000 if sub.isDefined() else None,
                "w1": end.get().getTime() / 1000 if end.isDefined() else None,
                "desc": str(desc.get()) if desc.isDefined() else "",
                "tasks": int(jd.numTasks()),
                "task_s": task_ms / 1000,
                "shuffle_bytes": int(shuffle),
            })
        return out


def next_job_id(spark) -> int:
    """The id the DAG scheduler gives the next Spark job."""
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def _outermost(spans: list[Span], pred) -> list[Span]:
    """Spans matching ``pred`` with no matching ancestor, so nested calls
    of one label are not counted twice."""
    out = []
    for s in spans:
        if not pred(s):
            continue
        p = s.parent
        while p is not None and not pred(p):
            p = p.parent
        if p is None:
            out.append(s)
    return out


def reduce_op(spans: list[Span], jobs: list[dict], wall: float,
              py4j: int, counts: dict) -> dict:
    """One op's per-layer metrics (see BENCHMARK.json ``per_layer``)."""
    m: dict[str, float] = {}

    def dur(label):
        return sum(s.dur for s in _outermost(spans, lambda s: s.label == label))

    def calls(pred):
        return sum(s.p1 - s.p0 for s in _outermost(spans, pred))

    def jobs_in(pred):
        return sum(1 for j in jobs if j["w0"] is not None and any(
            s.w0 <= j["w0"] <= s.w1 for s in _outermost(spans, pred)))

    def layer(name):
        return lambda s: s.label.split(".")[0] == name

    m["catalog.snapshot_s"] = dur("catalog.snapshot")
    m["catalog.py4j_calls"] = calls(layer("catalog"))
    m["inventory.list_s"] = dur("inventory.list")
    m["inventory.jobs"] = jobs_in(layer("inventory"))
    m["inventory.py4j_calls"] = calls(layer("inventory"))
    m["diff.build_s"] = dur("diff.build")
    m["diff.py4j_calls"] = calls(layer("diff"))
    for k in ("files_attempted", "files_copied", "files_failed", "bytes"):
        m[f"copy.{k}"] = counts.get(f"copy.{k}", 0)
    m["copy.useful_ratio"] = (m["copy.files_copied"] / m["copy.files_attempted"]
                              if m["copy.files_attempted"] else 0.0)
    m["copy.stage_s"] = dur("copy.stage")
    for k in ("actions", "applied", "failed"):
        m[f"commit.{k}"] = counts.get(f"commit.{k}", 0)
    m["commit.stage_s"] = dur("commit.stage")

    self_s = {name: 0.0 for name in LAYERS}
    for s in spans:
        child = sum(c.dur for c in spans if c.parent is s)
        self_s[s.label.split(".")[0]] += s.dur - child
    m["replicate.self_s"] = self_s["replicate"]
    m["replicate.jobs"] = jobs_in(layer("replicate"))
    for prefix, name in STAGE_JOBS.items():
        m[name] = sum(j["w1"] - j["w0"] for j in jobs
                      if j["desc"].startswith(prefix) and j["w1"] is not None)
    m["events.compile_s"] = dur("events.compile")
    m["events.py4j_calls"] = calls(lambda s: s.label == "events.compile")
    m["state.open_s"] = dur("state.open")
    m["state.append_s"] = dur("state.append")
    m["state.summary_s"] = dur("state.summary")
    m["state.log_files"] = counts.get("state.log_files", 0)
    m["dirsync.plan_s"] = dur("dirsync.plan")
    m["dirsync.execute_s"] = dur("dirsync.execute")
    m["sources.commit_s"] = dur("sources.commit")
    m["sources.changes_s"] = dur("sources.changes")
    m["sources.changes_py4j_calls"] = calls(lambda s: s.label == "sources.changes")
    m["sources.replace_s"] = dur("sources.replace")
    m["sources.commits_in_feed"] = counts.get("sources.commits_in_feed", 0)

    job_wall = sum(j["w1"] - j["w0"] for j in jobs if j["w1"] is not None)
    m["op.wall_s"] = wall
    m["op.spark_jobs"] = len(jobs)
    m["op.spark_tasks"] = sum(j["tasks"] for j in jobs)
    m["op.task_s"] = sum(j["task_s"] for j in jobs)
    m["op.shuffle_bytes"] = sum(j["shuffle_bytes"] for j in jobs)
    m["op.py4j_calls"] = py4j
    m["op.driver_s"] = wall - job_wall
    # the op's wall that no layer span covers: the entry point's own
    # code between the named layers (the incremental loop's batching and
    # checkpoint, dirsync's planning glue, cdf_sync's composed actions);
    # the layer self times and this add up to op.wall_s
    m["op.unattributed_s"] = wall - sum(self_s.values())
    return {"metrics": m, "self_s": self_s}
