"""Replication benchmark: one workload per process, closed loop, one client.

Run from the repository root:

    python3 replbench/run.py --workload dir_sync --seed 1 --seconds 30 --trace 0

Each run starts the engine's Spark session, builds the workload's fixture
(three times; the median counts toward ``setup_s``), runs the warm-up
ops, then loops ``mutate -> op -> check`` for a fixed number of ops:
``--seconds`` divided by the workload's nominal op wall, at least two.
A count, not a deadline, so every run times the same op positions; a
deadline made the median jump with whether a third op still fitted.
Only ``op`` is timed. Every op's output is checked
with code independent of the engine; an op fails if it raises, if any
copy or commit row is FAILED, or if the check finds a mismatch.

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer split: traced and untraced ops alternate, the per-layer
metrics are means over the traced ops, and ``trace.overhead_s`` is the
median traced op wall minus the median untraced one.

The full record (environment stamp, per-op walls and counts, the
warm-up trend check, spans of traced ops) is written to
``.bench_out/<workload>-seed<seed>-trace<t>.json``; the last line of
standard output is the JSON result.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

SETUP_REPEATS = 3
END_TO_END_UNITS = {
    "setup_s": "s",
    "op_p50_s": "s",
    "items_per_s": "1/s",
    "driver_peak_rss_MB": "MB",
    "jvm_live_heap_MB": "MB",
}


def per_layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("bytes"):
        return "B"
    if name.endswith("ratio"):
        return "ratio"
    return "count"


def vm_hwm_mb() -> float:
    with open("/proc/self/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM in /proc/self/status")


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f)


def git_head(root: str):
    """HEAD commit of ``root`` read from .git, or None outside a clone."""
    try:
        with open(f"{root}/.git/HEAD") as fh:
            head = fh.read().strip()
        if head.startswith("ref: "):
            with open(f"{root}/.git/{head[5:]}") as fh:
                return fh.read().strip()
        return head
    except OSError:
        return None


def tail(walls: list[float]):
    """(percentile, value): the highest percentile with at least ten
    timed ops beyond it, or None when there are fewer than eleven."""
    n = len(walls)
    if n < 11:
        return None
    return 100.0 * (n - 10) / n, sorted(walls)[n - 11]


def trend_bound(root: str) -> float:
    with open(f"{root}/BENCHMARK.json") as fh:
        spec = json.load(fh)
    return next(m["bound"] for m in spec["end_to_end"] if m["name"] == "op_p50_s")


def start_session(work: str):
    from reair_spark.session import get_spark

    slots = len(os.sched_getaffinity(0))
    local = f"{work}/spark-local"
    os.makedirs(local)
    os.environ["SPARK_LOCAL_DIRS"] = local  # overrides spark.local.dir
    spark = get_spark("replbench", cpus=slots, extra_conf={
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": f"{work}/spark-warehouse",
        "spark.ui.showConsoleProgress": "false",
    })
    return spark, slots


def stop_session(spark) -> None:
    """Stop Spark, close the JVM's stdin (its exit signal) and wait."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def run(args, root: str, work: str) -> dict:
    from replbench import trace as tr
    from replbench import workloads

    rec = {"workload": args.workload, "seed": args.seed,
           "seconds": args.seconds, "trace": args.trace,
           "load1_before": os.getloadavg()[0]}
    ticks0 = cpu_ticks()
    t = time.perf_counter()
    spark, slots = start_session(work)
    session_s = time.perf_counter() - t
    wl = workloads.WORKLOADS[args.workload](spark, args.seed)
    tracer = tr.Tracer(spark) if args.trace else None

    # -- set-up: fixture (repeated; median counts) + warm-up --------------
    t_builds0 = time.perf_counter()
    builds = []
    for i in range(SETUP_REPEATS):
        t = time.perf_counter()
        wl.build(f"{work}/fixture{i}")
        builds.append(time.perf_counter() - t)
        if i:
            shutil.rmtree(f"{work}/fixture{i - 1}")
    t_warm = time.perf_counter()
    warm_bad, warm_walls = [], []
    for _ in range(wl.WARMUP):
        wl.mutate()
        t = time.perf_counter()
        res = wl.op()
        warm_walls.append(time.perf_counter() - t)
        warm_bad += wl.check(res)
    warmup_s = time.perf_counter() - t_warm
    setup_s = (t_builds0 - T_START) + statistics.median(builds) + warmup_s

    # -- timed closed loop ------------------------------------------------
    n_ops = max(2, round(args.seconds / wl.NOMINAL_OP_S))
    ops = []
    t_loop = time.perf_counter()
    while len(ops) < n_ops:
        wl.mutate()
        traced = tracer is not None and len(ops) % 2 == 0
        j0 = tr.next_job_id(spark)
        if traced:
            p0 = tracer.start()
        t0 = time.perf_counter()
        try:
            res, bad = wl.op(), []
        except Exception as exc:  # a raising op is a failed op
            res, bad = None, [f"op raised {exc!r}"]
        wall = time.perf_counter() - t0
        if traced:
            p1 = tracer.stop()
        j1 = tr.next_job_id(spark)
        op = {"wall_s": wall, "traced": traced, "spark_jobs": j1 - j0}
        if res is not None:
            try:
                bad = wl.check(res)
                op["counts"] = wl.counts(res)
                op["items"] = wl.items(res)
            except Exception as exc:
                bad = [f"check raised {exc!r}"]
        c = op.get("counts", {})
        for k in ("copy.files_failed", "commit.failed"):
            if c.get(k):
                bad.append(f"{c[k]} {k.split('.')[0]} row(s) FAILED")
        op["failures"] = bad
        if traced:
            red = tr.reduce_op(tracer.spans, tracer.jobs(j0, j1), wall,
                               p1 - p0, c)
            op["layers"] = red["metrics"]
            op["self_s"] = red["self_s"]
            op["spans"] = [(s.label, tracer.spans.index(s.parent)
                            if s.parent else None, s.t0 - t0, s.t1 - t0,
                            s.p1 - s.p0) for s in tracer.spans]
        ops.append(op)
        if len(ops) < n_ops and time.perf_counter() - t_loop > 2 * args.seconds:
            rec["stopped_early"] = f"{len(ops)} of {n_ops} ops after 2x --seconds"
            break

    try:
        end_bad = wl.final_check()
    except Exception as exc:
        end_bad = [f"final check raised {exc!r}"]
    if end_bad:
        ops[-1]["failures"] += end_bad

    # -- memory, environment ----------------------------------------------
    # drop dead py4j proxies, then let two full GCs and the ContextCleaner
    # release what only they held (unreferenced cached RDD blocks)
    gc.collect()
    jvm = spark._jvm
    jvm.java.lang.System.gc()
    time.sleep(1)
    jvm.java.lang.System.gc()
    heap = (jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
            .getHeapMemoryUsage().getUsed())
    import pyspark

    rec.update({
        "nproc": os.cpu_count(),
        "task_slots": spark.sparkContext.defaultParallelism,
        "pyspark": pyspark.__version__,
        "jvm": jvm.java.lang.System.getProperty("java.version"),
        # the engine's own heap and JIT settings, as the JVM saw them
        "jvm_args": [str(a) for a in jvm.java.lang.management.ManagementFactory
                     .getRuntimeMXBean().getInputArguments()],
        "git_head": git_head(root),
        "session_s": session_s,
        "fixture_builds_s": builds,
        "warmup_ops": wl.WARMUP,
        "warmup_s": warmup_s,
        "warmup_walls_s": warm_walls,
        "warmup_failures": warm_bad,
        "item": wl.item,
    })
    stop_session(spark)
    rec["load1_after"] = os.getloadavg()[0]
    # CPU time the hypervisor gave to other guests: a run with a high
    # share was timed on a contended host
    ticks1 = cpu_ticks()
    rec["cpu_steal_share"] = ((ticks1[0] - ticks0[0])
                              / max(1, ticks1[1] - ticks0[1]))
    if rec["task_slots"] > slots:
        raise RuntimeError(f"{rec['task_slots']} task slots > {slots} cores")

    walls = [o["wall_s"] for o in ops]
    failed = sum(1 for o in ops if o["failures"])
    half = len(walls) // 2
    if half:
        first = statistics.median(walls[:half])
        second = statistics.median(walls[half:])
        bound = trend_bound(root)
        rec["trend"] = {"first_half_p50_s": first, "second_half_p50_s": second,
                        "bound": bound,
                        "flagged": abs(second - first) > bound * first}
    t = tail(walls)
    rec["op_tail"] = ({"percentile": t[0], "value_s": t[1], "samples": len(walls)}
                      if t else f"undefined: {len(walls)} ops, fewer than 11")
    rec["ops"] = ops

    if args.trace:
        traced = [o for o in ops if o["traced"]]
        plain = [o["wall_s"] for o in ops if not o["traced"]]
        metrics = {k: statistics.fmean(o["layers"][k] for o in traced)
                   for k in traced[0]["layers"]}
        metrics["session.start_s"] = session_s
        metrics["trace.overhead_s"] = (
            statistics.median(o["wall_s"] for o in traced)
            - statistics.median(plain)) if plain else 0.0
        units = {k: per_layer_unit(k) for k in metrics}
    else:
        done = [o for o in ops if not o["failures"]]
        metrics = {
            "setup_s": setup_s,
            "op_p50_s": statistics.median(walls),
            "items_per_s": sum(o["items"] for o in done) / sum(walls),
            "driver_peak_rss_MB": vm_hwm_mb(),
            "jvm_live_heap_MB": heap / 2**20,
        }
        units = END_TO_END_UNITS
    rec["result"] = {
        "correct": failed == 0 and not warm_bad,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    return rec


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(f"{root}/reair_spark/__init__.py"):
        print("replbench: no reair_spark package in the current directory; "
              "run from the repository root", file=sys.stderr)
        return 2
    # set before anything imports tempfile's cached default: every
    # scratch file of python, pyspark and the JVM stays in the checkout
    work = f"{root}/.bench_work/{args.workload}-{os.getpid()}"
    os.makedirs(f"{work}/tmp")
    os.environ["TMPDIR"] = f"{work}/tmp"
    # both JVMs (spark-submit's launcher and the Spark driver) skip the
    # /tmp/hsperfdata file and keep their temp files in the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp")
    sys.path.insert(0, root)
    try:
        from replbench.workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            print(f"replbench: unknown workload {args.workload!r}; "
                  f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
            return 2
        rec = run(args, root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    os.makedirs(f"{root}/.bench_out", exist_ok=True)
    with open(f"{root}/.bench_out/{args.workload}-seed{args.seed}"
              f"-trace{args.trace}.json", "w") as fh:
        json.dump(rec, fh, indent=1, default=str)
    print(json.dumps({k: v for k, v in rec.items() if k != "ops"}, default=str))
    print(json.dumps(rec["result"]), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
