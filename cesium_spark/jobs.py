"""Library entry for the tiered rollup job (wrapped by jobs/rollup_job.py
for spark-submit).

Work is tracked in (tier, day-bucket) units: tier windows (1m/1h/1d,
UTC) never cross a day boundary, so each unit is independently computable
and idempotently overwritable. Every unit commit records input rows,
output windows and wall time in the lineage log; resume skips committed
units whose input fingerprint (rows per unit) is unchanged — exact
mid-tier crash recovery, and late data landing in an old unit changes its
fingerprint and forces recompute of exactly that unit.

One call computes every dirty unit in ONE pass: one filtered scan of the
dirty days, one exchange on (conv_id, coarsest dirty tier window — the
day for 1m/1h/1d), one sort, one mapInPandas evaluating every dirty tier
(the tiers nest inside a day), and one
dynamic-overwrite write partitioned by (tier, bucket), so only the dirty
unit directories are replaced. Output window counts come from an
Observation on that write, not a re-read. Commits stay per unit and
happen after the write: a crash between the write and the commits
leaves those units uncommitted, and resume reruns them.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

from .operators.rollup import _day_nested_windows, rollup_kernel
from .streaming.checkpoint import LineageLog

DEFAULT_FEATURES = [
    "n_epochs", "mean", "std", "amplitude", "total_time", "avgt",
    "cads_avg", "cads_med", "cads_std", "median",
    "median_absolute_deviation", "skew", "stetson_j", "stetson_k",
    "weighted_average", "weighted_std_dev", "max_slope",
]


def run_rollup(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    tiers=("1m", "1h", "1d"),
    features=None,
    key_col: str = "conv_id",
    ts_col: str = "ts",
    tiebreak_col: str = "turn_idx",
    resume: bool = False,
    bucket_days: int = 7,
    verbose: bool = True,
) -> list[dict]:
    """Run the tiered rollup, committing per-(tier, day-bucket) units.
    Returns the list of unit metric dicts (committed + skipped). Every
    tier's width must divide one day and the coarsest tier's width, else
    ValueError."""
    features = list(features or DEFAULT_FEATURES)
    tiers = list(tiers)
    _day_nested_windows(tiers)
    log = LineageLog(os.path.join(output_path, "_lineage"))
    df = spark.read.parquet(input_path)
    day_col = F.date_trunc("day", F.col(ts_col))

    # unit fingerprint: rows per day (one cheap JVM agg; late data landing
    # in an old day changes that day's count and invalidates its units)
    per_day = sorted(
        df.groupBy(day_col.alias("d")).agg(F.count("*").alias("n")).collect(),
        key=lambda r: r["d"],
    )
    days = [r["d"] for r in per_day]
    day_rows = {r["d"]: r["n"] for r in per_day}
    buckets = [days[i: i + bucket_days] for i in range(0, len(days), bucket_days)]

    results, dirty = [], []
    for tier in tiers:
        for bucket in buckets:
            key = bucket[0].strftime("%Y%m%d")
            unit = f"tier-{tier}-days-{key}"
            rows_in = sum(day_rows[d] for d in bucket)
            res = {"unit": unit, "skipped": False}
            results.append(res)
            if resume and log.is_committed(unit, input_rows=rows_in):
                res["skipped"] = True
                if verbose:
                    print(f"{unit}: committed, skipping (resume)")
            else:
                dirty.append((tier, key, bucket, rows_in, res))
    if not dirty:
        return results

    # one pass over every dirty unit: the dirty days of the dirty tiers,
    # cut back to the dirty (tier, bucket) pairs before the write
    t0 = time.time()
    dirty_days = sorted({d for _, _, bucket, _, _ in dirty for d in bucket})
    dirty_tiers = [t for t in tiers if any(u[0] == t for u in dirty)]
    bucket_key = {d: b[0].strftime("%Y%m%d") for b in buckets for d in b}
    bucket_of = F.create_map(
        *[F.lit(x) for d in dirty_days for x in (d, bucket_key[d])])
    out = rollup_kernel(
        df.filter(day_col.isin(dirty_days)), features, dirty_tiers,
        key_col=key_col, ts_col=ts_col, tiebreak_col=tiebreak_col,
    )
    out = out.withColumn(
        "bucket", bucket_of[F.date_trunc("day", F.col("window_start"))])
    out = out.filter(F.concat_ws("/", "tier", "bucket").isin(
        [f"{tier}/{key}" for tier, key, _, _, _ in dirty]))
    windows = Observation()
    out = out.observe(windows, *[
        F.count_if((F.col("tier") == tier) & (F.col("bucket") == key)).alias(res["unit"])
        for tier, key, _, _, res in dirty
    ])
    (out.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("tier", "bucket").parquet(output_path))
    n_out = windows.get
    wall = time.time() - t0

    for _, _, bucket, rows_in, res in dirty:
        metrics = {
            "windows_out": n_out[res["unit"]],
            "rows_in": rows_in,
            "wall_sec": round(wall, 2),
            "points_per_sec": round(rows_in / wall, 1) if wall > 0 else None,
            "features": len(features),
            "n_days": len(bucket),
            # explicit per-day input fingerprint: retention re-validates
            # each day's CURRENT row count against this before dropping
            # it, so late rows appended after the commit block deletion
            # (and a calendar gap day is never claimed covered)
            "day_rows": {d.strftime("%Y%m%d"): day_rows[d] for d in bucket},
        }
        log.commit(res["unit"], input_rows=rows_in, metrics=metrics)
        res.update(metrics)
        if verbose:
            print(json.dumps({"unit": res["unit"], **metrics}))
    return results
