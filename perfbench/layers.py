"""Per-layer metrics of a traced run (--trace 1).

Three sources, all outside cesium_spark:
  - the engine counters that probe.StatusStore read for each traced
    operation (jobs, stages and plan nodes of that operation's job group);
  - the harness's own timings and file-size readings of each operation;
  - probes run once after the timed loop, each timing one public call on
    the workload's current input (scan, one tier alone, the JVM-only tier,
    the two feature paths called directly, the day fingerprint, a re-read
    count, a lineage commit, and retention where the loop ran none).
"""

from __future__ import annotations

import glob
import os
import statistics
import time

import numpy as np

from probe import bytes_written, file_states, tree_bytes
from workloads import TIERS, DailyCycle, Wide1h, default_features, wide_features

# the driver-side feature probes evaluate at most this many 1h windows
FEATURE_PROBE_WINDOWS = 300
LINEAGE_PROBE_COMMITS = 10


def timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def noop_write(df):
    df.write.format("noop").mode("overwrite").save()


def feature_probe(df, fast_feats, slow_feats) -> tuple[float, float, int]:
    """segmented_features and the per-group compute_features loop, called
    directly on the sorted 1h-window arrays the kernel would receive."""
    from pyspark.sql import functions as F

    from cesium_spark.features.fastpath import segmented_features
    from cesium_spark.features.registry import compute_features
    from cesium_spark.kernel import DEFAULT_ERROR_VALUE, SECONDS_PER_DAY, ts_micros

    pdf = df.select(
        "conv_id", F.window("ts", "1 hour").start.alias("w"),
        (ts_micros(F.col("ts")).cast("double") / F.lit(SECONDS_PER_DAY * 1e6)).alias("t"),
        F.length("text").cast("double").alias("m"), F.col("turn_idx").alias("o"),
    ).toPandas().sort_values(["conv_id", "w", "t", "o"], kind="stable")
    keys = pdf["conv_id"].to_numpy(), pdf["w"].to_numpy()
    change = np.ones(len(pdf), dtype=bool)
    change[1:] = (keys[0][1:] != keys[0][:-1]) | (keys[1][1:] != keys[1][:-1])
    starts = np.flatnonzero(change)
    n = len(pdf) if len(starts) <= FEATURE_PROBE_WINDOWS else starts[FEATURE_PROBE_WINDOWS]
    starts = starts[:FEATURE_PROBE_WINDOWS]
    t = pdf["t"].to_numpy()[:n]
    m = pdf["m"].to_numpy()[:n]
    e = np.full(n, DEFAULT_ERROR_VALUE)
    fast_s = timed(lambda: segmented_features(t, m, e, starts, fast_feats))
    ends = np.append(starts[1:], n)
    slow_s = timed(lambda: [compute_features(t[s:z], m[s:z], e[s:z], slow_feats)
                            for s, z in zip(starts, ends)])
    return fast_s, slow_s, len(starts)


def retention_probe(spark, table, lineage_dir) -> dict:
    """apply_retention on a table the timed loop did not run it on, with a
    horizon at the table's last day."""
    from cesium_spark.operators.retention import apply_retention, current_day_rows
    from cesium_spark.streaming.checkpoint import LineageLog

    last = max(current_day_rows(table.read(spark)))
    live_before = tree_bytes(*table.snapshots()[-1]["paths"])
    before = file_states(table.root)
    t0 = time.perf_counter()
    rep = apply_retention(spark, table, LineageLog(lineage_dir), TIERS, last)
    apply_s = time.perf_counter() - t0
    return {"retention_s": apply_s, "retention": rep,
            "rewrite_bytes": bytes_written(before, file_states(table.root)),
            "dropped_bytes": live_before - tree_bytes(*table.snapshots()[-1]["paths"])}


def per_layer(bench, wl, results, traced, untraced) -> dict:
    from pyspark.sql import functions as F

    from cesium_spark.operators.retention import current_day_rows
    from cesium_spark.operators.rollup import rollup_kernel, rollup_sql
    from cesium_spark.streaming.checkpoint import LineageLog

    spark = bench.spark
    daily = isinstance(wl, DailyCycle)
    last = results[-1]
    df = wl.table.read(spark) if daily else wl.df
    eng = [r for r in results if "engine" in r]

    def med(key):
        return statistics.median(r["engine"][key] for r in eng)

    def med_res(key):
        return statistics.median(r[key] for r in results)

    probe_dir = os.path.join(bench.work, "probe")
    m: dict[str, tuple[float, str]] = {}
    m["sources.scan_s"] = (timed(lambda: noop_write(df.select(
        F.length("text"), "conv_id", "ts", "turn_idx"))), "s")
    m["sources.scan_keys_s"] = (timed(lambda: noop_write(df.select("conv_id", "ts", "turn_idx"))), "s")
    m["sources.bytes_read"] = (med("sources.bytes_read"), "B")
    m["sources.rows_scanned_per_row_in"] = (statistics.median(
        r["engine"]["scan_rows"] / r["turns"] for r in eng), "ratio")
    if daily:
        m["sources.table_append_s"] = (med_res("append_s"), "s")
        m["sources.table_bytes_written"] = (med_res("append_bytes"), "B")
    else:
        m["sources.table_append_s"] = (statistics.median(wl.stats["append_s"]), "s")
        m["sources.table_bytes_written"] = (wl.stats["append_bytes"], "B")

    feats = default_features()
    for t in TIERS:
        m[f"rollup.tier_s.{t}"] = (timed(lambda: rollup_kernel(df, feats, t).write.mode(
            "overwrite").parquet(os.path.join(probe_dir, f"tier{t}"))), "s")
    m["rollup.sql_tier_s.1h"] = (timed(lambda: rollup_sql(df, "1h").write.mode(
        "overwrite").parquet(os.path.join(probe_dir, "sql1h"))), "s")

    for key, unit in (("kernel.python_bytes_in", "B"), ("kernel.python_bytes_out", "B"),
                      ("kernel.python_s", "s"), ("kernel.windows_out", "count"),
                      ("exchange.shuffle_bytes", "B"), ("exchange.spill_bytes", "B"),
                      ("exchange.task_skew", "ratio"), ("jobs.spark_jobs", "count"),
                      ("jvm.gc_s", "s"), ("exec.cpu_util", "ratio")):
        m[key] = (med(key), unit)

    from cesium_spark.features.fastpath import FAST_FEATS

    op_feats = wide_features() if isinstance(wl, Wide1h) else feats
    slow = [f for f in wide_features() if f not in FAST_FEATS]
    fast_s, slow_s, windows = feature_probe(df, [f for f in op_feats if f in FAST_FEATS], slow)
    m["features.fast_s"] = (fast_s, "s")
    m["features.slow_s"] = (slow_s, "s")
    m["features.windows"] = (windows, "count")

    m["jobs.units_run"] = (statistics.median(
        sum(not u["skipped"] for u in r["units"]) for r in results), "count")
    m["jobs.units_skipped"] = (statistics.median(
        sum(bool(u["skipped"]) for u in r["units"]) for r in results), "count")
    m["jobs.fingerprint_s"] = (timed(lambda: current_day_rows(df)), "s")
    out_root = wl.rollup if daily else last["out"]
    units = sorted(glob.glob(os.path.join(out_root, "tier=1h", "bucket=*"))) or [out_root]
    m["jobs.recount_s"] = (timed(lambda: spark.read.parquet(units[-1]).count()), "s")

    log = LineageLog(os.path.join(probe_dir, "_lineage"))
    commit_times = [timed(lambda k=k: log.commit(f"probe-{k}", input_rows=k, metrics={
        "windows_out": k, "day_rows": {"20250101": k}})) for k in range(LINEAGE_PROBE_COMMITS)]
    m["lineage.commit_s"] = (statistics.median(commit_times), "s")
    if daily:
        m["lineage.commits"] = (med_res("lineage_commits"), "count")
        ret = results
    else:
        m["lineage.commits"] = (len(glob.glob(os.path.join(out_root, "_lineage", "*.json")))
                                if not isinstance(wl, Wide1h) else 0, "count")
        # wide_1h commits no lineage, so retention finds every old day blocked
        lineage = (os.path.join(probe_dir, "no_lineage") if isinstance(wl, Wide1h)
                   else os.path.join(out_root, "_lineage"))
        ret = [retention_probe(spark, wl.table, lineage)]
    m["retention.apply_s"] = (statistics.median(r["retention_s"] for r in ret), "s")
    m["retention.days_dropped"] = (sum(len(r["retention"]["dropped_days"]) for r in ret), "count")
    m["retention.days_blocked"] = (sum(len(r["retention"]["blocked_days"]) for r in ret), "count")
    dropped = sum(r["dropped_bytes"] for r in ret)
    m["retention.rewrite_bytes_per_dropped_byte"] = (
        sum(r["rewrite_bytes"] for r in ret) / dropped if dropped > 0 else 0.0, "ratio")

    m["trace.overhead_s"] = (
        statistics.median(traced) - statistics.median(untraced) if traced and untraced else 0.0, "s")
    return {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}

