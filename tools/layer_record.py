"""Layer record of a change: one traced benchmark run in each of two checkouts.

    python3 tools/layer_record.py --workload ratings_zipf --seed 1 \
        --before <parent checkout> --after . --change "<one line>" \
        --out BENCH/layers_<name>_ratings_zipf.json

Each side runs ``perfbench/run.py --trace 1`` from its own checkout (the
benchmark's own code and library), keeps the Spark event log, and adds per
span the bytes sent to Python workers (the ``data sent to Python workers``
SQL metric, summed over the span's tasks; median over traced iterations),
which ``--trace 1`` does not report.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys

# runs inside the checkout: perfbench's traced benchmark, then the event-log
# fold of the Python-bound bytes, before the work directory is removed
_SIDE = r"""
import json, os, shutil, sys
root, workload, seed, seconds = sys.argv[1], sys.argv[2], int(sys.argv[3]), float(sys.argv[4])
sys.path[:0] = [root, os.path.join(root, "perfbench")]
import run
from eventlog import DESC, ITER, PYTHON_METRIC, log_files, read_events
work = os.path.join(root, ".perfbench_work", f"layers-{workload}-{seed}-{os.getpid()}")
run.configure_env(work, True)
try:
    result = run.benchmark(workload, seed, seconds, True, work)
    events = os.environ["SPARK_GRAFT_EVENTLOG_DIR"]
    # each setup round starts a new application; the timed one is the last
    app = max((n for n in os.listdir(events) if not n.startswith("appstatus")),
              key=lambda n: os.path.getmtime(os.path.join(events, n)))
    app = app.removeprefix("eventlog_v2_")
    label, sent = {}, {}
    for ev in read_events(log_files(events, app)):
        kind = ev.get("Event")
        if kind == "SparkListenerStageSubmitted":
            props, info = ev.get("Properties") or {}, ev["Stage Info"]
            label[(info["Stage ID"], info.get("Stage Attempt ID", 0))] = (props.get(ITER), props.get(DESC))
        elif kind == "SparkListenerTaskEnd":
            it, span = label.get((ev["Stage ID"], ev.get("Stage Attempt ID", 0)), (None, None))
            if it is None or not span:
                continue
            for a in ev["Task Info"].get("Accumulables", []):
                if a.get("Name") == PYTHON_METRIC:
                    per = sent.setdefault(it, {})
                    per[span] = per.get(span, 0) + int(a.get("Update", 0))
    result["python_bytes"] = sent
finally:
    run.stop_jvm()
    shutil.rmtree(work, ignore_errors=True)
    try:  # the parent too, unless another run is using it
        os.rmdir(os.path.dirname(work))
    except OSError:
        pass
print(json.dumps(result))
"""


def run_side(checkout: str, workload: str, seed: int, seconds: float) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", _SIDE, os.path.abspath(checkout), workload,
         str(seed), str(seconds)],
        cwd=checkout, check=True, stdout=subprocess.PIPE, text=True).stdout
    result = json.loads(out.strip().splitlines()[-1])
    per_iter = result.pop("python_bytes")
    spans = sorted({s for per in per_iter.values() for s in per})
    result["python_bytes"] = {
        s: statistics.median(per.get(s, 0) for per in per_iter.values())
        for s in spans}
    return result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--before", required=True)
    ap.add_argument("--after", default=".")
    ap.add_argument("--change", default="")
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    sides = {side: run_side(path, args.workload, args.seed, args.seconds)
             for side, path in (("before", args.before),
                                ("after", args.after))}
    units = {}
    record = {
        "workload": args.workload, "seed": args.seed,
        "command": (f"python3 perfbench/run.py --workload {args.workload} "
                    f"--seed {args.seed} --seconds {args.seconds:g} "
                    "--trace 1"),
        "hardware": (f"{os.cpu_count()}-vCPU {platform.machine()}, "
                     f"local[{len(os.sched_getaffinity(0))}]"),
        "change": args.change,
    }
    for side, res in sides.items():
        metrics = {}
        for name, m in res["metrics"].items():
            metrics[name] = m["value"]
            units[name] = m["unit"]
        record[side] = {"correct": res["correct"], "metrics": metrics,
                        "python_bytes": res["python_bytes"]}
    record["units"] = dict(units)
    with open(args.out, "w", encoding="utf-8") as fh:
        json.dump(record, fh, indent=1)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
