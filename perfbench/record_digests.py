"""Record the reference output digests that run.py checks every
backfill_3tier and wide_1h operation against, bit for bit.

    python3 perfbench/record_digests.py 0 40    # seeds 0..39

Run it only when the program's outputs are meant to change; for a seed
without a recorded digest, run.py falls back to the digest of its own
first warm-up operation (a determinism check only).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

import run


def main():
    p = argparse.ArgumentParser()
    p.add_argument("first", type=int)
    p.add_argument("stop", type=int)
    a = p.parse_args()
    work = os.path.join(run.ROOT, ".perfbench", f"work-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    run.pin_environment(work)
    from workloads import Backfill3Tier, Wide1h

    path = os.path.join(run.HERE, "reference_digests.json")
    bench = run.Bench(run.parse_args(["--workload", "backfill_3tier", "--seed", "0",
                                      "--seconds", "0"]), work)
    try:
        with open(path) as f:
            digests = json.load(f)
        for seed in range(a.first, a.stop):
            bench.seed = seed
            backfill, wide = Backfill3Tier(bench), Wide1h(bench)
            backfill.setup(0)
            backfill.prepare()
            wide.input_path = backfill.input_path
            wide.prepare()
            for wl in (backfill, wide):
                digests.setdefault(wl.name, {})[str(seed)] = wl.digest(wl.op(seed))
            run.log(f"seed {seed}: {digests['backfill_3tier'][str(seed)][:12]} "
                    f"{digests['wide_1h'][str(seed)][:12]}")
            with open(path, "w") as f:
                json.dump(digests, f, indent=1, sort_keys=True)
    finally:
        bench.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
