"""Run the benchmark once per seed, one run at a time, and report each
end-to-end metric's median and quartile spread ((Q3 - Q1) / median, with
Python's statistics.quantiles(n=4)).

    python3 perfbench/sweep.py --workload daily_cycle --seeds 1-10 --seconds 5
    python3 perfbench/sweep.py --workload backfill_3tier --seeds 7 --cores 1 \\
        --out perfbench/baseline/host.jsonl

With --out, every run's info line and result are appended as one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    p.add_argument("--seconds", default="5")
    p.add_argument("--trace", default="0")
    p.add_argument("--cores", default=None)
    p.add_argument("--out", default=None)
    a = p.parse_args()
    values: dict[str, list[float]] = {}
    bad = 0
    for seed in seeds(a.seeds):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
               "--seed", str(seed), "--seconds", a.seconds, "--trace", a.trace]
        if a.cores:
            cmd += ["--cores", a.cores]
        t0 = time.time()
        proc = subprocess.run(cmd, capture_output=True, text=True)
        lines = proc.stdout.strip().splitlines()
        try:
            result = json.loads(lines[-1])
            info = next(json.loads(x) for x in lines if x.startswith('{"env"'))
        except (IndexError, StopIteration, json.JSONDecodeError):
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-3000:]}", flush=True)
            bad += 1
            continue
        bad += not result["correct"]
        print(f"seed {seed} run {time.time() - t0:.1f}s correct={result['correct']} "
              f"ops={info['ops']} steal={info['host_steal_frac']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()), flush=True)
        # the bounded metrics, then the printed operation times
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        for k, v in info.get("timings", {}).items():
            values.setdefault(k, []).append(v)
        if a.out:
            with open(a.out, "a") as f:
                f.write(json.dumps({"cores": a.cores, "seconds": a.seconds, "info": info,
                                    "result": result}) + "\n")
    for k, v in values.items():
        if len(v) >= 2:
            q = statistics.quantiles(v, n=4)
            med = statistics.median(v)
            print(f"{k:42s} n={len(v):2d} median={med:.6g} spread={(q[2] - q[0]) / med:.4f}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
