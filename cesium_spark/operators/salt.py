"""Hot-conversation skew handling via explicit conversation salting.

One conversation = one group; a conversation with 10^8 turns would pin a
single task. The north rule requires explicit salting (AQE skew-join
splitting doesn't apply to groupBy aggregations feeding a Python kernel):

  - salted_repartition: spread each series over `salt_buckets` partitions
    keyed by (key, salt) where salt = pmod(hash(tiebreak), buckets) —
    deterministic per row, uniform within a series;
  - skew_resistant_states: two-phase mergeable aggregation — partial
    states per (key, salt) computed map-side-parallel, then merged per
    key. Exactly associative (operators/aggstate.py), so the result is
    salt-count-invariant (tested);
  - for NON-mergeable features under skew, tier windows already bound the
    group (a 1m window of one conversation fits a task); whole-series
    non-mergeable features on pathological series go through windowed
    decomposition instead (SURVEY.md §7 risk 5).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .aggstate import finalize_states, merge_states, partial_states

__all__ = ["salted_repartition", "skew_resistant_states",
           "skew_resistant_features"]


def with_salt(df: DataFrame, tiebreak_col: str, salt_buckets: int) -> DataFrame:
    return df.withColumn(
        "_salt", F.pmod(F.hash(F.col(tiebreak_col)), F.lit(salt_buckets))
    )


def salted_repartition(
    df: DataFrame,
    key_col: str = "conv_id",
    tiebreak_col: str = "turn_idx",
    salt_buckets: int = 8,
    num_partitions: int | None = None,
) -> DataFrame:
    """Repartition on (key, salt): a hot series spreads over up to
    salt_buckets partitions instead of one."""
    salted = with_salt(df, tiebreak_col, salt_buckets)
    npart = num_partitions or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    return salted.repartition(npart, key_col, "_salt")


def skew_resistant_states(
    df: DataFrame,
    key_col: str = "conv_id",
    ts_col: str = "ts",
    tiebreak_col: str = "turn_idx",
    m: Column | str | None = None,
    e: Column | str | None = None,
    salt_buckets: int = 8,
    tier: str | None = None,
) -> DataFrame:
    """Two-phase whole-series (or per-window) mergeable aggregation:
    partial per (key [,window], salt) -> exact merge per (key [,window]).
    Result is independent of salt_buckets (associativity test)."""
    salted = with_salt(df, tiebreak_col, salt_buckets)
    # phase 1: partial states with salt folded into the key
    partial = partial_states(
        salted.withColumn(
            "_skey", F.concat_ws("\x1f", F.col(key_col), F.col("_salt"))
        ),
        tier,
        key_col="_skey",
        ts_col=ts_col,
        tiebreak_col=tiebreak_col,
        m=m,
        e=e,
    )
    # phase 2: strip salt, exact merge (restore the key's original type)
    key_type = df.schema[key_col].dataType
    unsalted = partial.withColumn(
        key_col, F.split(F.col("_skey"), "\x1f").getItem(0).cast(key_type)
    ).drop("_skey")
    group = [key_col] + (["window_start"] if tier is not None else [])
    return merge_states(unsalted, group)


def skew_resistant_features(
    df: DataFrame,
    key_col: str = "conv_id",
    salt_buckets: int = 8,
    **kwargs,
) -> DataFrame:
    """finalize(skew_resistant_states): the mergeable feature columns for
    every series, computed without any single-task hot spot."""
    states = skew_resistant_states(df, key_col=key_col, salt_buckets=salt_buckets, **kwargs)
    keep = [key_col] + (["window_start"] if "window_start" in states.columns else [])
    return finalize_states(states, keep)
