"""Per-stage byte/bandwidth accounting for the flagship job.

Runs jobs/topk_cosine.py with the Spark event log enabled, then parses the
log into a per-phase table: input bytes, shuffle read/write bytes, executor
CPU vs run time, and effective bytes/sec — the evidence that says WHICH
phases are memory-bandwidth-bound on this host and how close they run to
the measured STREAM-triad ceiling (BENCH/hw_probe.json).

Usage: python tools/stage_accounting.py [--docs 200000] [--cpus 8]
Writes BENCH/stage_accounting.json and prints a markdown table.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_flagship(input_path: str, cpus: int, evdir: str, out: str) -> dict:
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus),
               SPARK_GRAFT_JVM_OPTS="",
               SPARK_GRAFT_EVENTLOG_DIR=evdir)
    cmd = [sys.executable, os.path.join(REPO, "jobs", "topk_cosine.py"),
           "--input", input_path, "--output", out, "--cpus", str(cpus),
           "--warmup"]
    subprocess.run(cmd, check=True, env=env,
                   stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    with open(os.path.join(out, "RESULT.json")) as f:
        return json.load(f)


def _eventlog_lines(evdir: str):
    newest = sorted(glob.glob(os.path.join(evdir, "*")),
                    key=os.path.getmtime)[-1]
    files = (sorted(glob.glob(os.path.join(newest, "events_*")))
             if os.path.isdir(newest) else [newest])
    for p in files:
        with open(p) as f:
            yield from f


def parse_eventlog(evdir: str) -> list[dict]:
    """Aggregate task metrics per stage from the newest event log."""
    stages: dict[int, dict] = {}
    if True:
        for line in _eventlog_lines(evdir):
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            kind = ev.get("Event")
            if kind == "SparkListenerStageSubmitted":
                si = ev["Stage Info"]
                stages.setdefault(si["Stage ID"], {
                    "stage": si["Stage ID"], "name": si["Stage Name"],
                    "submitted_ms": si.get("Submission Time", 0),
                    "input_b": 0, "sh_read_b": 0, "sh_write_b": 0,
                    "run_ms": 0, "cpu_ms": 0, "tasks": 0,
                    "group": None,
                })
                props = ev.get("Properties") or {}
                stages[si["Stage ID"]]["group"] = props.get(
                    "spark.jobGroup.id")
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                st = stages.get(sid)
                tm = ev.get("Task Metrics")
                if st is None or not tm:
                    continue
                st["tasks"] += 1
                st["run_ms"] += tm.get("Executor Run Time", 0)
                st["cpu_ms"] += tm.get("Executor CPU Time", 0) // 1_000_000
                im = tm.get("Input Metrics") or {}
                st["input_b"] += im.get("Bytes Read", 0)
                sr = tm.get("Shuffle Read Metrics") or {}
                st["sh_read_b"] += (sr.get("Local Bytes Read", 0)
                                    + sr.get("Remote Bytes Read", 0))
                sw = tm.get("Shuffle Write Metrics") or {}
                st["sh_write_b"] += sw.get("Shuffle Bytes Written", 0)
    return sorted(stages.values(), key=lambda s: s["stage"])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=200_000)
    ap.add_argument("--cpus", type=int, default=8)
    ap.add_argument("--input", default="/tmp/scaling_pages.parquet")
    ap.add_argument("--evdir", default="/tmp/spark-events")
    ap.add_argument("--out", default=os.path.join(REPO, "BENCH"))
    args = ap.parse_args()

    os.makedirs(args.evdir, exist_ok=True)
    import shutil

    for old in glob.glob(os.path.join(args.evdir, "*")):
        shutil.rmtree(old) if os.path.isdir(old) else os.remove(old)
    if not os.path.exists(args.input):
        sys.path.insert(0, REPO)
        from tools.scaling_bench import generate_input

        generate_input(args.docs, args.input)

    result = run_flagship(args.input, args.cpus, args.evdir,
                          "/tmp/accounting_out")
    stages = parse_eventlog(args.evdir)

    # roll stages into phases by job-group id (set per phase in the job;
    # falls back to one 'all' bucket for logs without groups)
    phases: dict[str, dict] = {}
    for st in stages:
        g = st["group"] or "all"
        p = phases.setdefault(g, {"phase": g, "input_b": 0, "sh_read_b": 0,
                                  "sh_write_b": 0, "run_ms": 0, "cpu_ms": 0,
                                  "stages": 0, "tasks": 0})
        for k in ("input_b", "sh_read_b", "sh_write_b", "run_ms", "cpu_ms"):
            p[k] += st[k]
        p["stages"] += 1
        p["tasks"] += st["tasks"]

    wall = {k: v for k, v in (result.get("phases") or {}).items()}
    rows = []
    for name, p in phases.items():
        w = wall.get(name)
        moved = p["input_b"] + p["sh_read_b"] + p["sh_write_b"]
        rows.append({
            **p,
            "wall_s": w,
            "bytes_moved": moved,
            "eff_gbps": round(moved / w / 1e9, 2) if w else None,
            "cpu_frac": round(p["cpu_ms"] / p["run_ms"], 2)
            if p["run_ms"] else None,
        })

    out = {"result": result, "phases": rows, "stages": stages}
    os.makedirs(args.out, exist_ok=True)
    with open(os.path.join(args.out, "stage_accounting.json"), "w") as f:
        json.dump(out, f, indent=1)

    print("| phase | wall s | input GB | shuffle r+w GB | eff GB/s | "
          "cpu/run |")
    print("|---|---|---|---|---|---|")
    for r in rows:
        print(f"| {r['phase']} | {r['wall_s']} "
              f"| {r['input_b'] / 1e9:.2f} "
              f"| {(r['sh_read_b'] + r['sh_write_b']) / 1e9:.2f} "
              f"| {r['eff_gbps']} | {r['cpu_frac']} |")


if __name__ == "__main__":
    main()
