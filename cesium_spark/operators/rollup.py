"""Tiered rollup engine: tumbling-window featurization at the three
retention tiers (1m / 1h / 1d) plus a pure-SQL fast path for the
mergeable feature subset.

Two physical strategies, chosen per feature set:

1. ``rollup_kernel`` — the full cesium feature registry via one
   applyInPandas per (series, window). Needed for order-sensitive /
   non-mergeable features (median, MAD, percentiles, stetson, peaks...).
   Window bounds group size, so even a hot conversation's 1m window fits
   one task.

2. ``rollup_sql`` — whole-stage-codegen JVM aggregation for the features
   expressible as exact built-in aggs (count/mean/min/max/stddev_pop/...).
   No Python in the hot path; this is the 100 TB fast lane and is provably
   identical to the kernel for these features (modulo float summation
   order; see tests).

Tier semantics: window_start = floor(event-time) to the tier width,
computed with date_trunc-equivalent ``F.window`` so Iceberg/parquet
partition pruning on ts still applies upstream.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..kernel import SECONDS_PER_DAY, featurize, ts_micros

TIERS = {"1m": "1 minute", "1h": "1 hour", "1d": "1 day"}

# features whose partial states merge exactly (see aggstate.py); everything
# else requires windowed raw data (bounded by the tier window).
MERGEABLE_FEATS = {
    "n_epochs", "mean", "minimum", "maximum", "amplitude", "std",
    "total_time", "avgt", "avg_err", "std_err", "weighted_average",
    "weighted_std_dev", "skew", "kurtosis",
}

__all__ = ["TIERS", "MERGEABLE_FEATS", "rollup_kernel", "rollup_sql",
           "rollup_hop", "rollup_grouping_sets"]


def rollup_kernel(
    df: DataFrame,
    features: Sequence[str],
    tier: str,
    key_col: str = "conv_id",
    ts_col: str = "ts",
    tiebreak_col: str = "turn_idx",
    m: Column | str | None = None,
    e: Column | str | None = None,
) -> DataFrame:
    """Full-registry featurization at one tier; output one row per
    (series, window_start)."""
    window = TIERS.get(tier, tier)
    return featurize(
        df, features, key_col=key_col, ts_col=ts_col, tiebreak_col=tiebreak_col,
        m=m, e=e, window=window,
    )


def rollup_sql(
    df: DataFrame,
    tier: str,
    key_col: str = "conv_id",
    ts_col: str = "ts",
    m: Column | str | None = None,
) -> DataFrame:
    """JVM-only rollup of the mergeable feature subset (no Python UDFs).

    Matches the kernel definitions: std is population (np.std ddof=0),
    total_time/avgt are in days of the bit-deterministic time axis.
    """
    window = TIERS.get(tier, tier)
    m_col = F.col(m) if isinstance(m, str) else m
    if m_col is None:
        m_col = F.length(F.col("text")).cast("double")
    t_days = ts_micros(F.col(ts_col)).cast("double") / F.lit(SECONDS_PER_DAY * 1e6)
    return (
        df.select(
            F.col(key_col),
            F.window(F.col(ts_col), window).start.alias("window_start"),
            m_col.alias("m"),
            t_days.alias("t"),
        )
        .groupBy(key_col, "window_start")
        .agg(
            F.count("*").cast("double").alias("n_epochs"),
            F.avg("m").alias("mean"),
            F.min("m").alias("minimum"),
            F.max("m").alias("maximum"),
            ((F.max("m") - F.min("m")) / 2.0).alias("amplitude"),
            F.stddev_pop("m").alias("std"),
            (F.max("t") - F.min("t")).alias("total_time"),
            F.avg("t").alias("avgt"),
        )
    )


def rollup_hop(
    df: DataFrame,
    window: str = "1 hour",
    slide: str = "15 minutes",
    ts_col: str = "ts",
    m: Column | str = "value",
    key_col: str | None = None,
    round_digits: int = 6,
) -> DataFrame:
    """Hopping (sliding) window rollup: overlapping windows of width
    `window` starting every `slide` — the smoothing tier between a
    tumbling rollup and a per-event range window (each event lands in
    window/slide consecutive windows; Spark's F.window(slideDuration=)
    materializes exactly that expansion JVM-side, epoch-aligned).

    Returns (key?, window_start, n_events, sum_m, mean_m) for every
    non-empty window. At 100 TB the expansion factor is the constant
    window/slide (4 for 1h/15m) applied map-side before ONE hash
    aggregate — no self-join, no range scan.
    """
    m_col = F.col(m) if isinstance(m, str) else m
    w = F.window(F.col(ts_col), window, slide)
    keys = ([F.col(key_col)] if key_col else []) + [w.start.alias("window_start")]
    eps = F.lit(1e-9)
    return (
        df.select(*keys, m_col.alias("_m"))
        .groupBy(*(([key_col] if key_col else []) + ["window_start"]))
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(F.sum("_m") + eps, round_digits).alias("sum_m"),
            F.round(F.avg("_m") + eps, round_digits).alias("mean_m"),
        )
    )


def rollup_grouping_sets(
    df: DataFrame,
    type_col: str = "event_type",
    ts_col: str = "ts",
    m: Column | str = "value",
    day_fmt: str = "yyyy-MM-dd",
    all_label: str = "(all)",
    round_digits: int = 6,
) -> DataFrame:
    """Every granularity of the (type x day) continuous aggregate in
    ONE scan: CUBE(type, day) emits the four grouping sets
    {(type, day), (type), (day), ()} through a single Expand +
    hash-aggregate pipeline — the multi-tier dashboard query (per-type
    daily, per-type all-time, corpus daily, grand total) without four
    scans or a state-merge cascade.

    Scale contract: Expand multiplies rows x4 MAP-SIDE, but partial
    aggregation collapses each set to its group cardinality before the
    single Exchange — the shuffle moves 4x groups rows, never 4x
    events (plan-tested: one Expand, one Exchange, no Python).

    Keys are emitted as strings with grouping-set nulls coalesced to
    `all_label` and the set id as ``gid`` (bit 2 = type aggregated
    away, bit 1 = day — Spark's grouping_id() convention, replayed
    bit-by-bit in the DuckDB oracle via GROUPING()).
    """
    m_col = F.col(m) if isinstance(m, str) else m
    eps = F.lit(1e-9)
    day = F.date_format(F.date_trunc("day", F.col(ts_col)), day_fmt)
    out = (
        df.select(F.col(type_col).alias("_t"), day.alias("_d"),
                  m_col.alias("_m"))
        .cube("_t", "_d")
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.count("*").cast("long").alias("n_events"),
            F.round(F.sum("_m") + eps, round_digits).alias("sum_m"),
            F.round(F.avg("_m") + eps, round_digits).alias("avg_m"),
        )
    )
    return out.select(
        F.col("gid"),
        F.coalesce(F.col("_t"), F.lit(all_label)).alias(type_col),
        F.coalesce(F.col("_d"), F.lit(all_label)).alias("day"),
        "n_events", "sum_m", "avg_m",
    )
