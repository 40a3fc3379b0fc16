"""Spark featurization kernel: cesium's per-series feature evaluation as a
vectorized ``groupBy(...).applyInPandas(...)`` over a long-format
transcript/event DataFrame.

Parallelism model (mirrors the reference's design, SURVEY.md §3.3-3.4):
one Spark task group = one (series [, window]) = one serial numpy kernel
invocation; Spark supplies cross-series parallelism, Arrow supplies
zero-copy JVM->pandas transfer. No per-row Python anywhere.

Determinism: within each group rows are stably sorted by
(t, tiebreak) before any feature is computed — the stable
(conv_id, turn_idx) ordering the north rule requires (the reference sorts
by t alone with a non-stable quicksort; we document the stronger
tie-broken ordering and use it everywhere).

Scale notes (100 TB):
  - the groupBy shuffles once on the group key; tier windows bound group
    size, so no group outgrows one task even for hot conversations;
  - for whole-conversation featurization of extreme series, use
    operators.aggstate (mergeable two-phase aggregation) for the mergeable
    subset instead of this kernel;
  - only the projected columns (key, unix-micros time, m, e, tiebreak)
    reach the shuffle: we select them explicitly so Parquet scans prune
    everything else;
  - several nested window widths (1m/1h/1d) share one shuffle on (key,
    coarsest window) and one sort: each width's groups are contiguous runs
    of the same time-sorted rows.
"""

from __future__ import annotations

import re
from typing import Callable, Mapping, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType, StringType, StructField, StructType, TimestampNTZType, TimestampType,
)

from .features.registry import compute_features

DEFAULT_ERROR_VALUE = 1e-4  # cesium's DEFAULT_ERROR_VALUE (time_series.py:10)
SECONDS_PER_DAY = 86400.0

__all__ = [
    "featurize", "featurize_multichannel", "attach_meta_features",
    "make_kernel", "ts_micros", "window_micros", "DEFAULT_ERROR_VALUE",
    "SECONDS_PER_DAY",
]


def ts_micros(col: Column) -> Column:
    """unix microseconds of a timestamp column; tolerates TIMESTAMP_NTZ
    inputs (cast is value-identity under the engine's fixed UTC session
    timezone, see session.py)."""
    return F.unix_micros(col.cast("timestamp"))


_UNIT_MICROS = {
    "week": 7 * 86_400_000_000, "day": 86_400_000_000, "hour": 3_600_000_000,
    "minute": 60_000_000, "second": 1_000_000, "millisecond": 1_000,
    "microsecond": 1,
}
_INTERVAL_PART = re.compile(r"(\d+)\s*([a-z]+?)s?\b")


def window_micros(width: str) -> int:
    """Width in microseconds of a tumbling window string as ``F.window``
    takes it ("1 minute", "15 minutes", "1 hour 30 minutes", "1 week").
    Calendar units (month, year) have no fixed width and raise ValueError,
    as does anything that is not a positive sum of fixed units."""
    s = width.strip().lower()
    parts = _INTERVAL_PART.findall(s)
    if not parts or _INTERVAL_PART.sub("", s).strip() or any(
            u not in _UNIT_MICROS for _, u in parts):
        raise ValueError(f"not a fixed window width: {width!r}")
    us = sum(int(n) * _UNIT_MICROS[u] for n, u in parts)
    if us <= 0:
        raise ValueError(f"window width must be positive: {width!r}")
    return us


def _time_axis(pdf: pd.DataFrame, t_scale: float | None) -> np.ndarray:
    """The kernel's float64 time axis: ``_us / t_scale`` (the same IEEE
    double division the JVM would do; us < 2^52 is exact in float64), or
    the caller's own ``t`` column when t_scale is None."""
    if t_scale is None:
        return pdf["t"].to_numpy(dtype=np.float64)
    return pdf["_us"].to_numpy().astype(np.float64) / t_scale


def _timestamps(us: np.ndarray, ntz: bool) -> pd.DatetimeIndex:
    """Unix microseconds as the type ``F.window`` gives a window start:
    TIMESTAMP (UTC instants) or, for a TIMESTAMP_NTZ input, TIMESTAMP_NTZ."""
    ts = pd.to_datetime(us, unit="us")
    return ts if ntz else ts.tz_localize("UTC")


def make_kernel(
    features: Sequence[str],
    key_cols: Sequence[str],
    custom_functions: Mapping[str, Callable] | None = None,
    raise_exceptions: bool = False,
    const_e: float | None = None,
    t_scale: float | None = None,
    width: int | None = None,
    tier: str | None = None,
    ntz: bool = False,
) -> Callable[[pd.DataFrame], pd.DataFrame]:
    """Build the applyInPandas function: one output row per group with the
    group keys, then ``tier`` (when given) and ``window_start`` (when
    `width`, in microseconds, is given), then one float64 column per
    feature.

    Expects input columns ``key_cols + ['_us' | 't', 'm', 'e', '_ord']``
    (see `_time_axis`; ``_us`` is also needed for a window) where _ord is
    the stable tiebreaker.
    """
    features = list(features)
    time_col = "t" if t_scale is None else "_us"

    def _kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values([time_col, "_ord"], kind="stable")
        t = _time_axis(pdf, t_scale)
        m = pdf["m"].to_numpy(dtype=np.float64)
        e = (np.full(len(pdf), const_e, dtype=np.float64)
             if const_e is not None else pdf["e"].to_numpy(dtype=np.float64))
        vals = compute_features(
            t, m, e, features, custom_functions=custom_functions,
            raise_exceptions=raise_exceptions,
        )
        row = {k: [pdf[k].iloc[0]] for k in key_cols}
        if tier is not None:
            row["tier"] = [tier]
        if width is not None:
            us = pdf["_us"].to_numpy()[:1]
            row["window_start"] = _timestamps(us // width * width, ntz)
        row.update({name: [vals[name]] for name in features})
        return pd.DataFrame(row)

    return _kernel


def iter_group_frames(batches, keys: Sequence[str]):
    """Yield maximal group-complete pandas frames from an Arrow batch
    iterator whose rows are key-contiguous (hash-partitioned + sorted by
    keys). Groups spanning batch boundaries are stitched via carry-over.
    Each yielded frame contains one or more complete groups."""
    carry: pd.DataFrame | None = None
    for pdf in batches:
        if carry is not None and len(carry):
            pdf = pd.concat([carry, pdf], ignore_index=True)
        if not len(pdf):
            continue
        last = pdf.iloc[-1]
        tail_mask = np.ones(len(pdf), dtype=bool)
        for k in keys:
            tail_mask &= (pdf[k] == last[k]).to_numpy()
        split = len(pdf) - int(
            tail_mask[::-1].argmin() if not tail_mask.all() else len(pdf)
        )
        body, carry = pdf.iloc[:split], pdf.iloc[split:]
        if len(body):
            yield body
    if carry is not None and len(carry):
        yield carry


def _changes(cols: Sequence[np.ndarray]) -> np.ndarray:
    """Mask of the rows where any of `cols` differs from the row before
    (the first row always starts a run)."""
    change = np.zeros(len(cols[0]), dtype=bool)
    change[0] = True
    for col in cols:
        change[1:] |= col[1:] != col[:-1]
    return change


def group_starts(pdf: pd.DataFrame, keys: Sequence[str]) -> np.ndarray:
    """Start offsets of each contiguous group in a key-sorted frame."""
    return np.flatnonzero(_changes([pdf[k].to_numpy() for k in keys]))


def make_batch_kernel(
    features: Sequence[str],
    key_cols: Sequence[str],
    custom_functions: Mapping[str, Callable] | None = None,
    raise_exceptions: bool = False,
    const_e: float | None = None,
    t_scale: float | None = None,
    widths: Sequence[int] = (),
    tiers: Sequence[str] | None = None,
    ntz: bool = False,
) -> Callable:
    """Build the mapInPandas function: processes MANY groups per Arrow
    batch (Spark's grouped-map dispatch costs ~15 ms *per group*, which is
    catastrophic for tiny tier windows; batched mapping amortizes it to
    ~nothing).

    Groups are (key_cols..., _us // width) for each window width in
    `widths` (microseconds; every width divides the largest), or the keys
    alone when `widths` is empty. Each width yields its own frame with a
    ``window_start`` column, plus a ``tier`` column (the width's label in
    `tiers`) when `tiers` is given.

    Contract: the input iterator covers one partition whose rows are
    (a) hash-partitioned by (key_cols..., coarsest window) and (b) sorted
    by (key_cols..., time, _ord), time being ``_us`` or, for a caller's
    own ``t``, (coarsest window, t) — so the groups of every width are
    contiguous and internally time-ordered. A group can span Arrow batch
    boundaries; the trailing (possibly incomplete) coarsest group of each
    batch is carried into the next.
    """
    from .features.fastpath import FAST_FEATS, segmented_features

    features = list(features)
    keys = list(key_cols)
    widths = list(widths)
    # segmented cross-group vectorization for supported features; the
    # rest (iterative/model-based) fall back to the per-group registry
    fast = [f for f in features if f in FAST_FEATS] if not custom_functions else []
    slow = [f for f in features if f not in set(fast)]

    def _features(t, m, e, starts) -> dict[str, np.ndarray]:
        out_feats: dict[str, np.ndarray] = {}
        if fast:
            out_feats.update(segmented_features(t, m, e, starts, fast))
        if slow:
            ends = np.append(starts[1:], len(t))
            for f in slow:
                out_feats[f] = np.empty(len(starts))
            for gi, (s, z) in enumerate(zip(starts, ends)):
                vals = compute_features(
                    t[s:z], m[s:z], e[s:z], slow,
                    custom_functions=custom_functions,
                    raise_exceptions=raise_exceptions,
                )
                for f in slow:
                    out_feats[f][gi] = vals[f]
        return {f: out_feats[f] for f in features}

    def _emit(pdf: pd.DataFrame):
        t = _time_axis(pdf, t_scale)
        m = pdf["m"].to_numpy(dtype=np.float64)
        # constant default error: synthesized here instead of shuffled
        # as a per-row column (guide §2.3: shuffle fewer bytes — this
        # drops 8 bytes/row from the kernel's one exchange)
        e = (np.full(len(pdf), const_e, dtype=np.float64)
             if const_e is not None else pdf["e"].to_numpy(dtype=np.float64))
        key_vals = [pdf[k].to_numpy() for k in keys]
        key_change = _changes(key_vals)
        us = pdf["_us"].to_numpy() if widths else None
        for i, w in enumerate(widths or [None]):
            change = key_change
            if w is not None:
                win = us // w
                change = key_change | _changes([win])
            starts = np.flatnonzero(change)
            out = {k: v[starts] for k, v in zip(keys, key_vals)}
            if tiers is not None:
                out["tier"] = np.full(len(starts), tiers[i], dtype=object)
            if w is not None:
                out["window_start"] = _timestamps(win[starts] * w, ntz)
            out.update(_features(t, m, e, starts))
            yield pd.DataFrame(out)

    def _with_coarsest(batches):
        coarsest = max(widths)
        for pdf in batches:
            pdf["_w"] = pdf["_us"].to_numpy() // coarsest
            yield pdf

    def _mapper(batches):
        if widths:
            batches, stitch = _with_coarsest(batches), keys + ["_w"]
        else:
            stitch = keys
        for body in iter_group_frames(batches, stitch):
            yield from _emit(body)

    return _mapper


def featurize(
    df: DataFrame,
    features: Sequence[str],
    key_col: str = "conv_id",
    ts_col: str = "ts",
    tiebreak_col: str = "turn_idx",
    m: Column | str | None = None,
    e: Column | str | None = None,
    t: Column | str | None = None,
    window: str | Sequence[str] | None = None,
    time_unit_seconds: float = SECONDS_PER_DAY,
    custom_functions: Mapping[str, Callable] | None = None,
    strategy: str = "batched",
    num_partitions: int | None = None,
    raise_exceptions: bool = False,
) -> DataFrame:
    """Featurize each (series [, tumbling window]) group of `df`.

    Parameters
    ----------
    m : measurement channel; default ``length(text)`` cast to double (the
        transcript convention from BASELINE.json input_hint).
    e : per-point error; default constant DEFAULT_ERROR_VALUE.
    t : time axis as float64; default ``unix_micros(ts)`` divided by
        ``time_unit_seconds * 1e6`` inside the kernel (days, so
        cad_probs_<k> keep their "k minutes" meaning — the golden
        astronomy vectors use days too).
    window : tumbling tier width, e.g. "1 minute"/"1 hour"/"1 day"; when
        set, output has a window_start column (TIMESTAMP, or TIMESTAMP_NTZ
        for an NTZ `ts_col`) and groups are (key, window). A sequence of
        widths, e.g. ["1 minute", "1 hour", "1 day"], computes every width
        in one pass — one exchange on (key, coarsest window), one sort, one
        mapInPandas — and adds a ``tier`` column holding each row's width
        string. Every width must divide the coarsest one (so each coarsest
        window holds whole windows of every width) and the time axis must
        be the default one; otherwise ValueError.
    raise_exceptions : cesium's public failure policy
        (/root/reference/cesium/featurize.py:76-95,156): a feature (most
        relevantly a custom callable) that throws yields NaN for its
        column by default; True re-raises inside the task instead.
    strategy : one of two values. "batched" (default) shuffles once on
        the group key with a secondary sort and evaluates many groups per
        Arrow batch via mapInPandas — the scale path. "grouped" uses plain
        groupBy().applyInPandas() (reference semantics, ~15 ms/group
        dispatch overhead — only sensible for few, large groups; one
        window width at most). Any other value raises ValueError.
    """
    if strategy not in ("batched", "grouped"):
        raise ValueError(
            f"strategy must be 'batched' or 'grouped', got {strategy!r}"
        )
    features = list(features)
    tiers = None if window is None or isinstance(window, str) else list(window)
    windows = [window] if isinstance(window, str) else tiers or []
    widths = [window_micros(w) for w in windows]
    if tiers is not None:
        if not widths:
            raise ValueError("window sequence is empty")
        if len(set(widths)) < len(widths):
            raise ValueError(f"window widths repeat: {tiers}")
        if any(max(widths) % w for w in widths):
            raise ValueError(
                f"every window width must divide the coarsest: {tiers}")
        if len(widths) > 1 and (strategy == "grouped" or t is not None):
            raise ValueError(
                "several window widths need strategy='batched' and the "
                "default time axis")
    m_col = F.col(m) if isinstance(m, str) else m
    if m_col is None:
        m_col = F.length(F.col("text")).cast("double")
    # default (constant) per-point error: synthesized inside the kernel
    # instead of shuffled as an 8-byte-per-row column — the value is
    # identical (np.full of the same double), only the exchange narrows
    const_e = DEFAULT_ERROR_VALUE if e is None else None
    e_col = F.col(e) if isinstance(e, str) else e
    t_col = F.col(t) if isinstance(t, str) else t
    # default time axis: integer microseconds shipped as a bigint, turned
    # into t inside the kernel; windows are cut from the same integers
    t_scale = time_unit_seconds * 1e6 if t_col is None else None

    cols = [
        F.col(key_col),
        *([] if t_col is None else [t_col.alias("t")]),
        *([ts_micros(F.col(ts_col)).alias("_us")] if t_col is None or widths else []),
        m_col.alias("m"),
        *([] if const_e is not None else [e_col.alias("e")]),
        F.col(tiebreak_col).cast("long").alias("_ord"),
    ]
    narrow = df.select(*cols)

    ntz = bool(widths) and isinstance(df.schema[ts_col].dataType, TimestampNTZType)
    out_fields = [narrow.schema[key_col]]
    if tiers is not None:
        out_fields.append(StructField("tier", StringType(), False))
    if widths:
        out_fields.append(StructField(
            "window_start", TimestampNTZType() if ntz else TimestampType(), True))
    out_fields += [StructField(name, DoubleType(), True) for name in features]
    schema = StructType(out_fields)

    # group key: (key, coarsest window start in microseconds — exact
    # integer arithmetic, floor semantics like F.window)
    group = [F.col(key_col)]
    if widths:
        group.append(F.col("_us") - F.pmod(F.col("_us"), F.lit(max(widths))))

    if strategy == "grouped":
        kernel = make_kernel(features, [key_col], custom_functions,
                             raise_exceptions, const_e, t_scale,
                             widths[0] if widths else None,
                             tiers[0] if tiers else None, ntz)
        return narrow.groupBy(*group).applyInPandas(kernel, schema=schema)

    npart = num_partitions or narrow.sparkSession.conf.get("spark.sql.shuffle.partitions")

    # default "batched": one shuffle on the group key + JVM in-partition
    # secondary sort, then whole-batch numpy evaluation (no per-group
    # dispatch). A caller's own t need not follow ts, so its rows sort by
    # window first.
    mapper = make_batch_kernel(features, [key_col], custom_functions,
                               raise_exceptions, const_e, t_scale, widths,
                               tiers, ntz)
    order = group if t_col is not None else group[:1]
    arranged = narrow.repartition(int(npart), *group).sortWithinPartitions(
        *order, "_us" if t_col is None else "t", "_ord"
    )
    return arranged.mapInPandas(mapper, schema=schema)


def featurize_multichannel(
    df: DataFrame,
    features: Sequence[str],
    channels: Mapping[str, Column | str],
    key_col: str = "conv_id",
    window: str | None = None,
    **kwargs,
) -> DataFrame:
    """Multichannel featurization: cesium computes each channel's features
    independently over shared (t, e) axes (featurize.py:62, channels()
    iteration in time_series.py:245-258); here each channel is one
    featurize() pass and the per-channel frames join on the series (and
    window) key. Output columns are ``{feature}_{channel}`` — the flattened
    form of cesium's (feature, channel) MultiIndex (SURVEY.md §1.4)."""
    keys = [key_col] + (["window_start"] if window is not None else [])
    out = None
    for ch_name, m in channels.items():
        part = featurize(df, features, key_col=key_col, m=m, window=window, **kwargs)
        part = part.select(
            *keys, *[F.col(f).alias(f"{f}_{ch_name}") for f in features]
        )
        out = part if out is None else out.join(part, keys, "outer")
    return out


def attach_meta_features(
    featureset: DataFrame,
    meta: DataFrame,
    key_col: str = "conv_id",
) -> DataFrame:
    """Join scalar per-series meta-features onto a featureset — cesium's
    meta_features columns (featurize.py:136-141) as a broadcast hash join
    on the series key."""
    return featureset.join(F.broadcast(meta), key_col, "left")
