"""Check that the benchmark's counts repeat across two seeded runs.

Run from the repository root:

    python3 replbench/repeat_check.py [--seed 7] [--seconds 20] dir_sync incremental_log cdf_sync

For each workload it makes two traced runs with the same seed and
compares them op by op, over the ops both runs reached. Spark jobs per
op, copy files attempted, copy bytes and commit actions must be equal;
py4j calls per traced op may differ by at most ``PY4J_TOLERANCE``
(driver-side plan construction makes a few percent more or fewer
round-trips from run to run). Exits 1 on any difference.
"""

import argparse
import json
import os
import subprocess
import sys

EXACT = ("copy.files_attempted", "copy.bytes", "commit.actions")
PY4J_TOLERANCE = 0.05


def traced_run(workload: str, seed: int, seconds: float) -> dict:
    subprocess.run(
        [sys.executable, "replbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"],
        check=True, stdout=subprocess.DEVNULL,
    )
    with open(f".bench_out/{workload}-seed{seed}-trace1.json") as fh:
        return json.load(fh)


def differences(a: dict, b: dict) -> list[str]:
    bad = []
    for i, (x, y) in enumerate(zip(a["ops"], b["ops"])):
        if x["spark_jobs"] != y["spark_jobs"]:
            bad.append(f"op {i}: spark jobs {x['spark_jobs']} vs {y['spark_jobs']}")
        for k in EXACT:
            u, v = x.get("counts", {}).get(k, 0), y.get("counts", {}).get(k, 0)
            if u != v:
                bad.append(f"op {i}: {k} {u} vs {v}")
        if x["traced"] and y["traced"] and "layers" in x and "layers" in y:
            u, v = x["layers"]["op.py4j_calls"], y["layers"]["op.py4j_calls"]
            if abs(u - v) > PY4J_TOLERANCE * max(u, v):
                bad.append(f"op {i}: py4j calls {u} vs {v}, "
                           f"beyond {PY4J_TOLERANCE:.0%}")
    return bad


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("workloads", nargs="+")
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--seconds", type=float, default=20)
    args = ap.parse_args()
    if not os.path.isfile("replbench/run.py"):
        print("run from the repository root", file=sys.stderr)
        return 2
    ok = True
    for w in args.workloads:
        a = traced_run(w, args.seed, args.seconds)
        b = traced_run(w, args.seed, args.seconds)
        n = min(len(a["ops"]), len(b["ops"]))
        bad = differences(a, b)
        jobs = [o["spark_jobs"] for o in a["ops"][:n]]
        print(f"{w}: {n} ops compared, spark jobs per op {jobs}: "
              + ("repeat" if not bad else "DIFFER: " + "; ".join(bad)))
        ok = ok and not bad
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
