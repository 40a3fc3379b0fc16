"""Reproduce the Lomb-Scargle memory growth (a known defect, see NOTES.md).

    python3 perfbench/ls_memory_repro.py            # n = 500 1000 2000 3000
    python3 perfbench/ls_memory_repro.py 6000       # ~0.9 GB; larger n OOMs

Each size runs in a fresh process, which computes the Lomb-Scargle
features of ONE window of n points with features.registry.compute_features
and reports its peak RSS. Peak RSS growing ~4x per doubling of n is the
quadratic term; this is why no benchmark workload requests these features.
"""

from __future__ import annotations

import os
import resource
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def one(n: int) -> None:
    import numpy as np

    sys.path.insert(0, ROOT)
    from cesium_spark.features.registry import LOMB_SCARGLE_FEATS, compute_features

    rng = np.random.RandomState(n)
    t = np.sort(rng.uniform(0, 1.0, n))  # one 1-day window, in days
    m = 1 + rng.rand(n) * 1999  # text lengths, as the transcript tables have
    e = np.full(n, 1e-4)
    base = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    compute_features(t, m, e, LOMB_SCARGLE_FEATS)
    peak = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    print(f"n={n:6d} peak_rss_mb={peak / 1024:8.1f} growth_mb={(peak - base) / 1024:8.1f}", flush=True)


def main() -> None:
    if len(sys.argv) > 2 and sys.argv[1] == "--one":
        one(int(sys.argv[2]))
        return
    sizes = [int(x) for x in sys.argv[1:]] or [500, 1000, 2000, 3000]
    for n in sizes:
        subprocess.run([sys.executable, __file__, "--one", str(n)], check=True)


if __name__ == "__main__":
    main()
