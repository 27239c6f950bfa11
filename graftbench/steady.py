"""Run one workload over N seeds and print, per end-to-end metric, the median
and the quartile spread (Q3 - Q1) / median across the runs, as
``statistics.quantiles(values, n=4)`` gives the quartiles.

    python3 graftbench/steady.py --workload lake_queries --seeds 1-10 [--busy 3]

Each run is ``run.py --trace 0`` for BENCHMARK.json's ``run_seconds``, the
way the benchmark is scored. Seeds run one after another, never in parallel.
``--busy N`` keeps N busy-loop processes running beside the runs, outside each
run's process tree, to show which metrics contention moves. Each run's result
line and stamps are appended to graftbench/_work/steady.jsonl.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_seeds(text: str) -> list[int]:
    seeds: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def spread(values: list[float]) -> tuple[float, float]:
    """(median, IQR / median)."""
    med = statistics.median(values)
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else float("nan")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--busy", type=int, default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}

    busy = [subprocess.Popen([sys.executable, "-c", "while True: pass"])
            for _ in range(args.busy)]
    try:
        return measure(args, seconds, bounds)
    finally:
        for p in busy:
            p.kill()
            p.wait()


def measure(args, seconds: float, bounds: dict) -> int:
    values: dict[str, list[float]] = {}
    failed = 0
    log = os.path.join(HERE, "_work", "steady.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    for seed in parse_seeds(args.seeds):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            failed += 1
            continue
        result = json.loads(lines[-1])
        stamps = json.loads(lines[-2].partition(" ")[2]) if len(lines) > 1 else {}
        with open(log, "a") as f:
            f.write(json.dumps({"seed": seed, "busy": args.busy, "result": result,
                                "stamps": stamps}) + "\n")
        failed += result["failed"] > 0 or not result["correct"]
        row = {k: v["value"] for k, v in result["metrics"].items()}
        print(f"seed {seed}: failed={result['failed']}/{result['attempted']} "
              + " ".join(f"{k}={v:.4g}" for k, v in row.items())
              + f"  | steal={stamps.get('steal_frac')} floor={stamps.get('spark_floor_s')}"
              f" load={stamps.get('load1_start')}->{stamps.get('load1_end')}", flush=True)
        for k, v in row.items():
            values.setdefault(k, []).append(v)

    print(f"\n{args.workload}: {len(next(iter(values.values()), []))} runs")
    for name, vs in values.items():
        if len(vs) < 2:
            continue
        med, iqr = spread(vs)
        bound = bounds.get(name)
        flag = "" if bound is None else f"  bound {bound}  {'ok' if iqr < bound / 3 else 'WIDE'}"
        print(f"  {name:18s} median {med:.4f}  IQR/median {iqr:.3f}{flag}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
