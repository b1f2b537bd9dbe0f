"""Where one perfbench ``query_bulk`` pass goes, read from Spark's event log.

    PYTHONPATH=. python tools/bulk_pass_split.py [--seed 1] [--passes 7]

Builds the seeded bulk index as perfbench does, warms up, runs ``--passes``
passes with the event log on, and prints the split of the median pass: each
Spark job's span with its stages and tasks, and the driver-side gaps before
the first job, between jobs and after the last one. Each task prints as
``span(deserialize/run/cpu/gc)[input rows/shuffle records read]``, times in
ms: the executor's deserialize, run, CPU and GC time of the task beside its
launch-to-finish span. It reads the event fields ``tools/profile_query.py``
reads. Everything it writes goes to a temporary directory it removes.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [os.path.join(ROOT, "perfbench")]

import run as perfbench_run  # noqa: E402  perfbench/run.py


def read_events(log_dir: str) -> list[dict]:
    events = []
    for root, _, names in os.walk(log_dir):
        for name in names:
            if not name.startswith(".") and "appstatus" not in name:
                with open(os.path.join(root, name), encoding="utf-8") as fh:
                    events += [json.loads(line) for line in fh if line.strip()]
    return events


def split(events: list[dict], t0: float, t1: float) -> list[str]:
    """One line per job and per driver gap of the pass run in [t0, t1] ms."""
    jobs, stages, tasks = {}, {}, {}
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart" and t0 <= ev["Submission Time"] <= t1:
            jobs[ev["Job ID"]] = [ev["Submission Time"], None, ev["Stage IDs"]]
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]][1] = ev["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            stages[info["Stage ID"]] = info["Stage Name"].split(" at ")[0]
        elif kind == "SparkListenerTaskEnd":
            info, metrics = ev["Task Info"], ev.get("Task Metrics") or {}
            rows = (metrics.get("Input Metrics") or {}).get("Records Read", 0)
            shuffled = (metrics.get("Shuffle Read Metrics") or {}).get(
                "Total Records Read", 0)
            times = "/".join(str(round(t)) for t in (
                metrics.get("Executor Deserialize Time", 0),
                metrics.get("Executor Run Time", 0),
                metrics.get("Executor CPU Time", 0) / 1e6,  # ns
                metrics.get("JVM GC Time", 0)))
            tasks.setdefault(ev["Stage ID"], []).append(
                f"{info['Finish Time'] - info['Launch Time']}({times})"
                f"[{rows}/{shuffled}]")
    lines, last = [], t0
    for job_id, (start, end, stage_ids) in sorted(jobs.items()):
        lines.append(f"  driver gap   {start - last:6.0f} ms")
        ran = [f"stage {s} {stages[s]}: tasks {' '.join(tasks.get(s, []))} ms"
               for s in stage_ids if s in stages]
        lines.append(f"  job {job_id:<8} {end - start:6.0f} ms  {'; '.join(ran)}")
        last = end
    lines.append(f"  tail         {t1 - last:6.0f} ms")
    return lines


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--passes", type=int, default=7)
    args = ap.parse_args()
    work = tempfile.mkdtemp(prefix="bulk_pass_split_")
    perfbench_run.environment(work)
    import workloads  # perfbench/workloads.py, importable once the environment is set

    from cargo_chat_spark.session import get_spark

    log_dir = os.path.join(work, "events")
    os.makedirs(log_dir)
    try:
        spark = get_spark(app_name="bulk_pass_split", extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.compress": "false",
        })
        w = workloads.QueryBulk(args.seed, work)
        w.generate(spark, workloads.Tracer(), False)
        w.setup(spark, workloads.Tracer())
        w.warm_up(spark)
        passes = []
        for i in range(args.passes):
            t0 = time.time() * 1e3
            w.op(spark, i, None)
            passes.append((t0, time.time() * 1e3))
        workloads.stop_jvm()
        spans = [t1 - t0 for t0, t1 in passes]
        t0, t1 = passes[spans.index(statistics.median_low(spans))]
        print(f"seed {args.seed}: passes {' '.join(f'{s:.0f}' for s in spans)} ms; "
              f"the median pass, {t1 - t0:.0f} ms:")
        print("\n".join(split(read_events(log_dir), t0, t1)))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
