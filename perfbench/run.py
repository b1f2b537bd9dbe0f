"""Benchmark entry point.

    python3 perfbench/run.py --workload query_bulk --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all          # every workload, one table

Run from the root of a checkout. Prints a human-readable report, then as
its last line one JSON object: {"correct", "attempted", "failed",
"metrics"}, with the end-to-end metrics when --trace 0 and the per-layer
metrics when --trace 1. Everything it writes stays under the checkout, in
.perfbench_work/, which it removes at exit.
"""

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["query_interactive", "query_bulk"]
# the names a reader knows each end-to-end metric by, per workload
ALIASES = {
    "query_interactive": {"op_p50_ms": "query_p50_ms", "op_p90_ms": "query_p90_ms",
                          "throughput_per_s": "queries_per_s"},
    "query_bulk": {"throughput_per_s": "bulk_queries_per_s", "op_p50_ms": "pass_p50_ms"},
}


def environment(work: str) -> None:
    """Spark at local[<cpus>], Python workers that can import the engine,
    and every temporary file under ``work``."""
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ.update({
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        # the mapInPandas workers do not see the driver's sys.path
        "PYTHONPATH": os.pathsep.join(
            [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
    })
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    sys.path[:0] = [ROOT]


def print_report(name: str, seed: int, out: dict) -> None:
    res = out["result"]
    print(f"{name} seed={seed}: {res['attempted']} ops, {res['failed']} failed, "
          f"correct={res['correct']}")
    for key, (value, unit) in out["report"].items():
        label = ALIASES[name].get(key, key)
        print(f"  {label:<30} {value:>14.4f} {unit}")


def run_all(args) -> int:
    """Each workload in its own process; one table; exit 1 if any failed."""
    worst = 0
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]))
        if proc.returncode or not json.loads(lines[-1])["correct"]:
            worst = 1
    return worst


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "cargo_chat_spark", "session.py")):
        print(f"no cargo_chat_spark package under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    environment(work)
    import workloads

    try:
        out = workloads.run(args.workload, args.seed, args.seconds, bool(args.trace), work,
                            T_PROCESS)
    finally:
        workloads.stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    print_report(args.workload, args.seed, out)
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
