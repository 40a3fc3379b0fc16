"""Structured Streaming rollup: the tier pipeline as a continuous query.

The batch-incremental path (operators/incremental.py + lineage
checkpoints) is the engine's primary ingestion mode per the north rule;
this module additionally exposes the same tier semantics as a native
Structured Streaming job for deployments that want push-based ingestion:

  readStream (file/kafka source) -> event-time tumbling window aggregates
  with a watermark for late data -> append-mode sink.

Only mergeable aggregates run in the streaming path (Spark's streaming
aggregation state is exactly our partial-state algebra); non-mergeable
features are produced by the batch kernel over closed windows downstream
(the `complete/dirty` flag pattern from SURVEY.md §7 risk 4).
"""

from __future__ import annotations

import glob
import os
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernel import SECONDS_PER_DAY, ts_micros
from .rollup_schema import STREAM_ROLLUP_COLUMNS

__all__ = [
    "streaming_rollup", "streaming_partial_states", "start_file_stream",
    "streaming_sessionize", "start_session_stream",
    "streaming_exact_dedup", "span_dedup_batch_fn",
    "start_span_dedup_stream", "minhash_dedup_batch_fn",
    "start_minhash_dedup_stream", "ivf_index_batch_fn",
    "start_ivf_index_stream", "streaming_run_stats", "streaming_psi",
    "contamination_batch_fn", "start_contamination_stream",
    "streaming_anomaly_zscore", "streaming_session_window",
    "hll_batch_fn", "hll_state_estimate",
    "cms_batch_fn", "cms_state_counters", "streaming_holt",
    "streaming_markov_nll", "streaming_gap_deltas", "streaming_funnel",
    "ddsketch_batch_fn", "ddsketch_state_buckets",
    "m4_batch_fn", "m4_state",
    "grid_batch_fn", "grid_state",
]


def streaming_rollup(
    stream_df: DataFrame,
    tier: str = "1 hour",
    key_col: str = "conv_id",
    ts_col: str = "ts",
    m=None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window mergeable aggregates over a streaming
    DataFrame; schema matches rollup_sql's output plus window_end."""
    m_col = F.col(m) if isinstance(m, str) else m
    if m_col is None:
        m_col = F.length(F.col("text")).cast("double")
    t_days = ts_micros(F.col(ts_col)).cast("double") / F.lit(SECONDS_PER_DAY * 1e6)
    w = F.window(F.col(ts_col), tier)
    return (
        stream_df.withWatermark(ts_col, watermark)
        .select(F.col(key_col), F.col(ts_col), m_col.alias("m"), t_days.alias("t"))
        .groupBy(key_col, w.alias("w"))
        .agg(
            F.count("*").cast("double").alias("n_epochs"),
            F.avg("m").alias("mean"),
            F.min("m").alias("minimum"),
            F.max("m").alias("maximum"),
            ((F.max("m") - F.min("m")) / 2.0).alias("amplitude"),
            F.stddev_pop("m").alias("std"),
            (F.max("t") - F.min("t")).alias("total_time"),
        )
        .select(
            key_col,
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            *STREAM_ROLLUP_COLUMNS,
        )
    )


def streaming_partial_states(
    stream_df: DataFrame,
    tier: str = "1m",
    key_col: str = "conv_id",
    ts_col: str = "ts",
    tiebreak_col: str = "turn_idx",
    m=None,
    e=None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming MERGEABLE STATE rows (operators/aggstate.STATE_COLS
    schema) per (series, tier window) — the streaming head of the
    continuous-aggregate cascade: the finest tier materializes from the
    stream, and the coarser tiers roll up from these states batch-side
    (rollup_states) without ever touching raw rows again. Every
    aggregate here is algebraic (sums / extrema / max_by), so Spark's
    streaming state store IS the partial-state algebra."""
    from ..kernel import DEFAULT_ERROR_VALUE
    from ..operators.aggstate import STATE_COLS
    from ..operators.rollup import TIERS

    m_col = F.col(m) if isinstance(m, str) else m
    if m_col is None:
        m_col = F.length(F.col("text")).cast("double")
    e_col = F.col(e) if isinstance(e, str) else e
    if e_col is None:
        e_col = F.lit(DEFAULT_ERROR_VALUE).cast("double")
    t_days = ts_micros(F.col(ts_col)).cast("double") / F.lit(SECONDS_PER_DAY * 1e6)
    window = TIERS.get(tier, tier)
    # normalize to the TIERS key so the metadata stamp (and with it
    # rollup_states' non-coarser-tier guard) applies whether the caller
    # passed the key ("1m") or the window string ("1 minute")
    tier_key = (
        tier
        if tier in TIERS
        else next((k for k, v in TIERS.items() if v == tier), None)
    )

    w = 1.0 / (e_col * e_col)
    rank = F.struct(
        ts_micros(F.col(ts_col)).alias("us"),
        F.col(tiebreak_col).cast("long").alias("idx"),
    )
    mv = m_col
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(F.col(key_col), F.window(F.col(ts_col), window).alias("w"))
        .agg(
            F.count("*").alias("n"),
            F.sum(mv).alias("s1"),
            F.sum(F.pow(mv, 2)).alias("s2"),
            F.sum(F.pow(mv, 3)).alias("s3"),
            F.sum(F.pow(mv, 4)).alias("s4"),
            F.min(mv).alias("vmin"),
            F.max(mv).alias("vmax"),
            F.sum(w).alias("w_sum"),
            F.sum(w * mv).alias("wx_sum"),
            F.sum(w * mv * mv).alias("wx2_sum"),
            F.min(t_days).alias("t_min"),
            F.max(t_days).alias("t_max"),
            F.sum(t_days).alias("t_sum"),
            F.max(ts_micros(F.col(ts_col))).alias("last_rank_us"),
            F.max_by(F.col(tiebreak_col).cast("long"), rank).alias("last_rank_idx"),
            F.max_by(mv, rank).alias("last_value"),
        )
        .select(
            F.col(key_col),
            # tier metadata rides along exactly like batch partial_states
            # stamps it, so rollup_states' coarser-tier validation guards
            # the streaming cascade too (when tier is a known key)
            F.col("w.start").alias(
                "window_start",
                metadata={"tier": tier_key} if tier_key is not None else {},
            ),
            *[F.col(c) for c in STATE_COLS],
        )
    )


def start_file_stream(
    spark,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    schema,
    tier: str = "1 hour",
    watermark: str = "2 hours",
    **kwargs,
):
    """File-source streaming job: new parquet files under `input_dir`
    roll into append-mode parquet tier output. Returns the StreamingQuery
    (caller awaits/stops)."""
    src = spark.readStream.schema(schema).parquet(input_dir)
    agg = streaming_rollup(src, tier=tier, watermark=watermark, **kwargs)
    return (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def streaming_exact_dedup(
    stream_df: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """First-seen exact dedup over a document stream: each distinct text
    digest is emitted once (its first arrival); re-arrivals within the
    watermark horizon are dropped.

    State discipline: the digest (32-byte md5, never the text) is the
    dedup key, and `dropDuplicatesWithinWatermark` lets Spark evict a
    digest's state once the watermark passes its event time — bounded
    state at any stream length, the standard streaming-dedup contract
    (a duplicate arriving LATER than the watermark horizon after its
    first copy is treated as new; choose the horizon to cover the
    expected duplication window)."""
    return (
        stream_df.withColumn("text_md5", F.md5(F.col(text_col)))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["text_md5"])
        .drop("text_md5")  # internal dedup key, not part of the contract
    )


def streaming_sessionize(
    stream_df: DataFrame,
    gap_minutes: int = 30,
    key_col: str = "conv_id",
    ts_col: str = "ts",
    watermark: str | None = None,
):
    """Custom stateful streaming operator via applyInPandasWithState:
    gap-based sessionization whose open-session state survives micro-batch
    boundaries (an event arriving in a later batch within the gap keeps
    extending the same session).

    Emits one row per CLOSED session (closed = a later event arrived more
    than `gap_minutes` after it): (key, session_start, session_end,
    n_events).

    Trailing-session closure — two modes:
      - watermark=None (default): the open trailing session stays in
        state indefinitely and closes only when a sufficiently-late event
        arrives; readers needing end-of-stream flushes send a per-key
        sentinel event past the gap. Deterministic under availableNow
        replays, which the engine's resume story needs.
      - watermark="2 hours" (any interval string): event-time timeout —
        when the stream's watermark passes (session_end + gap), the open
        session closes and its state is freed, bounding state for
        inactive keys. Closure timing then depends on watermark advance
        (i.e. on batch boundaries), the standard streaming trade.

    Input assumption: per-key events may arrive out of order WITHIN a
    micro-batch (each batch is sorted here), but an event older than the
    carried session's last timestamp in a LATER batch merges into the
    open session (session_start stays pinned; it never reopens closed
    sessions). Use the watermark mode to bound how late such events can
    be, or keep per-key delivery ordered.

    Per-group work is vectorized numpy (diff + flatnonzero over the
    batch's sorted event times merged with the carried state) — the
    Python boundary stays Arrow-batched, no per-row loop.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType, TimestampType,
    )

    gap_us = int(gap_minutes) * 60 * 1_000_000
    out_schema = StructType([
        StructField(key_col, StringType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType()),
    ])
    # open-session state: (first event us, last event us, event count)
    state_schema = StructType([
        StructField("start_us", LongType()),
        StructField("last_us", LongType()),
        StructField("n", LongType()),
    ])

    gap_ms = gap_us // 1000
    use_timeout = watermark is not None

    def fn(key, pdfs, state):
        if use_timeout and state.hasTimedOut:
            # watermark passed (last event + gap): the open session is
            # definitively closed — no in-watermark event can extend it
            start_us, last_us, n_carry = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    key_col: [key[0]],
                    "session_start": pd.to_datetime([start_us], unit="us"),
                    "session_end": pd.to_datetime([last_us], unit="us"),
                    "n_events": [n_carry],
                }
            )
            return
        ts_list = [pdf["ts_us"].to_numpy(dtype=np.int64) for pdf in pdfs]
        ts = np.sort(np.concatenate(ts_list)) if ts_list else np.empty(0, np.int64)
        if ts.size == 0:
            return
        if state.exists:
            start_us, last_us, n_carry = state.get
        else:
            start_us, last_us, n_carry = int(ts[0]), None, 0

        closed = []  # (start_us, end_us, n)
        # session boundaries inside the batch, with the carried last event
        # prepended so a cross-batch gap closes the carried session
        seq = ts if last_us is None else np.concatenate(([last_us], ts))
        breaks = np.flatnonzero(np.diff(seq) > gap_us)
        seg_starts = np.concatenate(([0], breaks + 1))
        seg_ends = np.concatenate((breaks, [len(seq) - 1]))
        for i, (s, z) in enumerate(zip(seg_starts, seg_ends)):
            n_seg = int(z - s + 1)
            first = int(seq[s])
            last = int(seq[z])
            if i == 0 and last_us is not None:
                # continuation of the carried session (seq[0] is the carry
                # marker, not a new event)
                n_seg = n_carry + n_seg - 1
                first = start_us
            if z == len(seq) - 1:
                state.update((first, last, n_seg))  # trailing stays open
                if use_timeout:
                    # fire once the watermark passes last + gap (clamped
                    # above the current watermark, which Spark requires)
                    state.setTimeoutTimestamp(
                        max(last // 1000 + gap_ms,
                            state.getCurrentWatermarkMs() + 1)
                    )
            else:
                closed.append((first, last, n_seg))
        if closed:
            yield pd.DataFrame(
                {
                    key_col: [key[0]] * len(closed),
                    "session_start": pd.to_datetime(
                        [c[0] for c in closed], unit="us"
                    ),
                    "session_end": pd.to_datetime(
                        [c[1] for c in closed], unit="us"
                    ),
                    "n_events": [c[2] for c in closed],
                }
            )

    if use_timeout:
        # the watermarked event-time column must survive into the stateful
        # operator (Spark rejects EventTimeTimeout otherwise) — carry it
        # alongside the ts_us the kernel actually reads
        narrow = stream_df.withWatermark(ts_col, watermark).select(
            F.col(key_col), F.col(ts_col),
            ts_micros(F.col(ts_col)).alias("ts_us"),
        )
        timeout_conf = "EventTimeTimeout"
    else:
        narrow = stream_df.select(
            F.col(key_col), ts_micros(F.col(ts_col)).alias("ts_us")
        )
        timeout_conf = "NoTimeout"
    return narrow.groupBy(key_col).applyInPandasWithState(
        fn, out_schema, state_schema, "append", timeout_conf
    )


def start_session_stream(
    spark,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    schema,
    gap_minutes: int = 30,
    max_files_per_trigger: int | None = None,
    **kwargs,
):
    """File-source stateful sessionization job (availableNow trigger)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    src = reader.parquet(input_dir)
    sess = streaming_sessionize(src, gap_minutes=gap_minutes, **kwargs)
    return (
        sess.writeStream.outputMode("append")
        .format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def span_dedup_batch_fn(
    store_root: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    hash_fn: str = "md5",
    min_count: int = 2,
    n_buckets: int = 64,
    round_digits: int = 6,
):
    """foreachBatch function maintaining a persisted span index + a
    per-document span-duplication VERDICT table under `store_root`
    (SnapshotTables "span_index" and "span_verdicts") — the streaming
    head of the span-level dedup pipeline (r4 VERDICT item 8;
    incremental_duplicate_spans was batch-only).

    Per micro-batch:
      1. probe the index with the batch (incremental_duplicate_spans:
         replay-safe — re-ingested ids REPLACE their stale rows);
      2. re-profile `affected_old_ids` PURELY from the post-batch index
         (span_profiles_from_index — old docs' raw text may be past its
         retention horizon; the index suffices);
      3. upsert verdicts, then commit the index.

    Both tables are hash-bucketed on their key (`pmod(xxhash64, n_buckets)`)
    and maintained with PARTITION-level dynamic overwrite: a batch
    rewrites only the buckets it touched — O(batch + touched buckets),
    never O(corpus) — the plain-parquet stand-in for an Iceberg
    MERGE INTO (sources/table.py docstring).

    Crash/replay discipline (foreachBatch may redeliver a batch): all
    reads in a delivery see ONE index snapshot; verdicts commit BEFORE
    the index. A redelivery after a verdict-only commit recomputes
    identical upserts against the unchanged index; a redelivery after
    both commits finds the batch ids already REPLACING their own rows
    (idempotent) and an empty affected set. Either way the stores
    converge to the same state a single delivery produces."""
    import os

    from ..operators.dedup import (
        incremental_duplicate_spans, span_profiles_from_index)
    from ..sources.table import SnapshotTable

    idx_table = SnapshotTable(os.path.join(store_root, "span_index"))
    verd_table = SnapshotTable(os.path.join(store_root, "span_verdicts"))
    key_type = "string" if hash_fn == "md5" else "bigint"

    def _bucket(col):
        return F.pmod(F.xxhash64(col), F.lit(n_buckets)).cast("int")

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        from pyspark import StorageLevel

        sp = batch_df.sparkSession
        id_type = dict(batch_df.dtypes)[id_col]
        bootstrap = False
        try:
            idx = idx_table.read(sp)
        except FileNotFoundError:
            bootstrap = True
            idx = sp.createDataFrame(
                [], f"id {id_type}, key {key_type}, n bigint, bucket int"
            )

        profiles, new_rows, affected_old = incremental_duplicate_spans(
            idx.select("id", "key", "n"), batch_df, id_col=id_col,
            text_col=text_col, k=k, hash_fn=hash_fn, min_count=min_count,
            round_digits=round_digits,
        )
        new_ids = batch_df.select(F.col(id_col).alias("id")).distinct()
        fresh = idx.join(new_ids, "id", "left_anti")
        # cache the batch-derived relations for the batch duration:
        # the verdict write, the bucket collects, and the index write
        # would each re-tokenize/re-hash the batch text otherwise
        # (~5 actions per micro-batch; review finding r5) — unpersisted
        # before returning, so nothing outlives the batch
        new_rows_b = new_rows.withColumn(
            "bucket", _bucket(F.col("key"))
        ).persist(StorageLevel.MEMORY_AND_DISK)
        try:
            post_index = fresh.select("id", "key", "n").unionByName(
                new_rows_b.select("id", "key", "n")
            )

            # ---- verdict upserts (commit FIRST — see docstring) ----
            aff_prof = span_profiles_from_index(
                post_index, affected_old, k=k, min_count=min_count,
                id_col=id_col, round_digits=round_digits,
            )
            upserts = profiles.unionByName(aff_prof).withColumn(
                "vbucket", _bucket(F.col(id_col))
            ).persist(StorageLevel.MEMORY_AND_DISK)
            try:
                verd = verd_table.read(sp)
                v_touched = sorted(
                    r["vbucket"]
                    for r in upserts.select("vbucket").distinct().collect()
                )
                up_ids = upserts.select(id_col).distinct()
                keep = (
                    verd.filter(F.col("vbucket").isin(v_touched))
                    .join(up_ids, id_col, "left_anti")
                )
                verd_table.overwrite_partitions(
                    keep.unionByName(upserts), ["vbucket"],
                    also_replace={f"vbucket={b}" for b in v_touched},
                )
            except FileNotFoundError:
                verd_table.overwrite(upserts, ["vbucket"])
            finally:
                upserts.unpersist()

            # ---- index maintenance: only touched buckets rewritten ----
            if bootstrap:
                idx_table.overwrite(new_rows_b, ["bucket"])
                return
            replaced = idx.join(new_ids, "id", "semi")
            touched = sorted(
                {r["bucket"] for r in
                 new_rows_b.select("bucket").distinct().collect()}
                | {r["bucket"] for r in
                   replaced.select("bucket").distinct().collect()}
            )
            content = (
                fresh.filter(F.col("bucket").isin(touched))
                .unionByName(new_rows_b)
            )
            idx_table.overwrite_partitions(
                content, ["bucket"],
                also_replace={f"bucket={b}" for b in touched},
            )
        finally:
            new_rows_b.unpersist()

    return _apply


def start_span_dedup_stream(
    spark,
    input_dir: str,
    store_root: str,
    checkpoint_dir: str,
    schema,
    **kwargs,
):
    """File-source streaming span dedup: new parquet document files under
    `input_dir` update the span index and per-doc duplication verdicts
    under `store_root` micro-batch by micro-batch (span_dedup_batch_fn).
    availableNow trigger: drains what exists, then stops — restartable
    from the checkpoint like every head in this module. Returns the
    StreamingQuery."""
    src = spark.readStream.schema(schema).parquet(input_dir)
    return (
        src.writeStream.foreachBatch(span_dedup_batch_fn(store_root, **kwargs))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def minhash_dedup_batch_fn(
    store_root: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    num_hashes: int = 16,
    bands: int = 4,
    hash_fn: str = "md5",
    n_buckets: int = 64,
):
    """foreachBatch function maintaining a persisted MinHash band index
    + a near-dup candidate PAIR table under `store_root` (SnapshotTables
    "band_index" and "dup_pairs") — the streaming head of the
    document-level dedup pipeline, symmetric with span_dedup_batch_fn.

    Invariant (tested): after every micro-batch, dup_pairs ==
    minhash_lsh_pairs(current corpus), where "current" means the latest
    ingested version of each doc — so cluster survivorship
    (graph.dedup_clusters over the pair table) is available at any
    batch boundary without ever re-pairing the corpus. Per batch the
    only join is new-bands against the band index
    (incremental_minhash_pairs); replayed ids REPLACE their index rows
    AND retire every stale pair they touch.

    Storage discipline mirrors the span head: both tables hash-bucketed,
    partition-level dynamic overwrite (only touched buckets rewritten),
    pair table committed BEFORE the index so a foreachBatch redelivery
    converges from either commit point."""
    import os

    from ..operators.dedup import incremental_minhash_pairs
    from ..sources.table import SnapshotTable

    idx_table = SnapshotTable(os.path.join(store_root, "band_index"))
    pairs_table = SnapshotTable(os.path.join(store_root, "dup_pairs"))
    key_type = "string" if hash_fn == "md5" else "bigint"

    def _bucket(col):
        return F.pmod(F.xxhash64(col), F.lit(n_buckets)).cast("int")

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        from pyspark import StorageLevel

        sp = batch_df.sparkSession
        id_type = dict(batch_df.dtypes)[id_col]
        bootstrap = False
        try:
            idx = idx_table.read(sp)
        except FileNotFoundError:
            bootstrap = True
            idx = sp.createDataFrame(
                [], f"id {id_type}, band int, key {key_type}, bucket int"
            )

        new_pairs, new_rows = incremental_minhash_pairs(
            idx.select("id", "band", "key"), batch_df, id_col=id_col,
            text_col=text_col, k=k, num_hashes=num_hashes, bands=bands,
            hash_fn=hash_fn,
        )
        new_ids = batch_df.select(F.col(id_col).alias("id")).distinct()
        fresh = idx.join(new_ids, "id", "left_anti")
        new_rows_b = new_rows.withColumn(
            "bucket", _bucket(F.col("key"))
        ).persist(StorageLevel.MEMORY_AND_DISK)
        new_pairs_b = new_pairs.withColumn(
            "pbucket", _bucket(F.col("id_a"))
        ).persist(StorageLevel.MEMORY_AND_DISK)
        try:
            # ---- pair-table maintenance (commit FIRST) ----
            ids_a = new_ids.withColumnRenamed("id", "id_a")
            ids_b = new_ids.withColumnRenamed("id", "id_b")
            try:
                pr = pairs_table.read(sp)
                # a replayed id retires EVERY pair it touches, on
                # either side — collect the (<= n_buckets) buckets
                # holding new or stale rows and rewrite only those
                touched = sorted(
                    {r["pbucket"] for r in
                     new_pairs_b.select("pbucket").distinct().collect()}
                    | {r["pbucket"] for r in
                       pr.join(ids_a, "id_a", "semi")
                       .select("pbucket").distinct().collect()}
                    | {r["pbucket"] for r in
                       pr.join(ids_b, "id_b", "semi")
                       .select("pbucket").distinct().collect()}
                )
                keep = (
                    pr.filter(F.col("pbucket").isin(touched))
                    .join(ids_a, "id_a", "left_anti")
                    .join(ids_b, "id_b", "left_anti")
                    .select("id_a", "id_b", "matching_bands", "pbucket")
                )
                pairs_table.overwrite_partitions(
                    keep.unionByName(new_pairs_b), ["pbucket"],
                    also_replace={f"pbucket={b}" for b in touched},
                )
            except FileNotFoundError:
                pairs_table.overwrite(new_pairs_b, ["pbucket"])

            # ---- band-index maintenance ----
            if bootstrap:
                idx_table.overwrite(new_rows_b, ["bucket"])
                return
            replaced = idx.join(new_ids, "id", "semi")
            touched_i = sorted(
                {r["bucket"] for r in
                 new_rows_b.select("bucket").distinct().collect()}
                | {r["bucket"] for r in
                   replaced.select("bucket").distinct().collect()}
            )
            content = (
                fresh.filter(F.col("bucket").isin(touched_i))
                .unionByName(new_rows_b)
            )
            idx_table.overwrite_partitions(
                content, ["bucket"],
                also_replace={f"bucket={b}" for b in touched_i},
            )
        finally:
            new_rows_b.unpersist()
            new_pairs_b.unpersist()

    return _apply


def start_minhash_dedup_stream(
    spark,
    input_dir: str,
    store_root: str,
    checkpoint_dir: str,
    schema,
    **kwargs,
):
    """File-source streaming MinHash dedup: new parquet document files
    under `input_dir` update the band index and the near-dup candidate
    pair table under `store_root` micro-batch by micro-batch
    (minhash_dedup_batch_fn). Returns the StreamingQuery."""
    src = spark.readStream.schema(schema).parquet(input_dir)
    return (
        src.writeStream
        .foreachBatch(minhash_dedup_batch_fn(store_root, **kwargs))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def ivf_index_batch_fn(
    store_root: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    train_sample: int = 2048,
    seed: int = 42,
):
    """foreachBatch function maintaining a persisted IVF vector index
    under `store_root` (SnapshotTable "ivf_index", list_id-partitioned,
    plus "centroids.npy") — the streaming head of the ANN pipeline,
    symmetric with the span/minhash heads.

    Bootstrap trains centroids on the FIRST batch (the deterministic
    bounded driver sample of build_ivf_index) and commits them
    atomically (tmp+rename) BEFORE the first index write, so a
    foreachBatch redelivery re-reads the same centroids instead of
    retraining on different data. Every batch then assigns its vectors
    with one broadcast-centroid Arrow pass (extend_ivf_index) and
    rewrites ONLY the touched list partitions: a replayed id is
    upserted, and if a re-ingested vector CHANGED (assignment moved
    lists), its stale row's old partition is rewritten too — the
    moved-row case a naive partition-scoped upsert would leak.

    Invariant (tested): after every micro-batch the table equals
    extend_ivf_index(latest version of every ingested vector, cents).
    Centroids are append-stable by design (assignments are centroid-
    relative); retrain = a new store_root when drift degrades recall."""
    import os

    import numpy as np

    from ..operators.similarity import _driver_sample, _kmeans_centroids, extend_ivf_index
    from ..sources.table import SnapshotTable

    idx_table = SnapshotTable(os.path.join(store_root, "ivf_index"))
    cents_path = os.path.join(store_root, "centroids.npy")

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        sp = batch_df.sparkSession
        # a micro-batch may deliver the same id twice (two ingest files
        # drained together) — collapse to ONE row per id first, picking
        # the lexicographically-greatest vector (file streams carry no
        # intra-batch order, so "last" is undefined; the pick just has
        # to be deterministic so redelivery converges). Centroid
        # training samples the deduped relation for the same reason.
        deduped = batch_df.groupBy(F.col(id_col)).agg(
            F.max(F.col(vec_col)).alias(vec_col)
        )
        if os.path.exists(cents_path):
            cents = np.load(cents_path)
            bootstrap = False
        else:
            sample = _driver_sample(deduped, id_col, vec_col, train_sample)
            cents = _kmeans_centroids(sample, n_lists, seed)
            tmp = cents_path + ".tmp.npy"
            np.save(tmp, cents)
            os.replace(tmp, cents_path)
            bootstrap = True

        rows = extend_ivf_index(deduped, cents, id_col=id_col,
                                vec_col=vec_col).localCheckpoint(eager=True)
        if bootstrap:
            idx_table.overwrite(rows, ["list_id"])
            return
        try:
            idx = idx_table.read(sp)
        except FileNotFoundError:
            # centroids committed but the bootstrap write didn't land
            # (crash window): this redelivery IS the bootstrap write
            idx_table.overwrite(rows, ["list_id"])
            return
        new_ids = rows.select(F.col("neighbor_id")).distinct()
        stale = idx.join(new_ids, "neighbor_id", "semi")
        touched = sorted(
            {r["list_id"] for r in rows.select("list_id").distinct().collect()}
            | {r["list_id"] for r in stale.select("list_id").distinct().collect()}
        )
        content = (
            idx.filter(F.col("list_id").isin(touched))
            .join(new_ids, "neighbor_id", "left_anti")
            .unionByName(rows)
        )
        idx_table.overwrite_partitions(
            content, ["list_id"],
            also_replace={f"list_id={b}" for b in touched},
        )

    return _apply


def start_ivf_index_stream(
    spark,
    input_dir: str,
    store_root: str,
    checkpoint_dir: str,
    schema,
    max_files_per_trigger: int | None = None,
    **kwargs,
):
    """File-source streaming IVF index upkeep: new parquet embedding
    files under `input_dir` extend the persisted index micro-batch by
    micro-batch (ivf_index_batch_fn). Returns the StreamingQuery.
    `max_files_per_trigger=1` forces one micro-batch per staged file —
    without it an availableNow start drains every pending file in ONE
    batch (i.e. pre-staged multi-file tests would only exercise the
    bootstrap path)."""
    src = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        src = src.option("maxFilesPerTrigger", max_files_per_trigger)
    src = src.parquet(input_dir)
    return (
        src.writeStream
        .foreachBatch(ivf_index_batch_fn(store_root, **kwargs))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def streaming_run_stats(
    stream_df: DataFrame,
    key_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
    loop_threshold: int = 5,
):
    """LIVE agent-loop detection: the stateful streaming twin of
    operators/runs.event_run_stats. Per-key state carries (last type,
    current run length, max run, event/run counts) across micro-batch
    boundaries via applyInPandasWithState, so a run that spans batches
    counts as ONE run; after each batch the operator emits the key's
    cumulative (n_events, n_runs, max_run, repeat_frac, looping) row —
    an update stream whose latest row per key equals the batch operator
    over everything ingested so far (tested, incl. restart).

    Ordering: rows are sorted by (ts, tiebreak) WITHIN each batch; a
    row older than the carried last event in a LATER batch is treated
    as current (the standard in-order-per-key ingestion assumption —
    bound it with source ordering, as the file-stream tests do).
    State is one tiny tuple per key, NoTimeout (bounded by the actor
    population; add a timeout wrapper if keys are unbounded)."""
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType, IntegerType, LongType, StructField, StructType,
    )

    # key/type schemas come from the INPUT (string actor ids, int
    # codes, ... all work); only the stats columns are fixed
    key_type = stream_df.schema[key_col].dataType
    out_schema = StructType([
        StructField(key_col, key_type),
        StructField("n_events", LongType()),
        StructField("n_runs", LongType()),
        StructField("max_run", LongType()),
        StructField("repeat_frac", DoubleType()),
        StructField("looping", IntegerType()),
    ])
    state_schema = StructType([
        StructField("last_type", stream_df.schema[type_col].dataType),
        StructField("run_len", LongType()),
        StructField("max_run", LongType()),
        StructField("n_events", LongType()),
        StructField("n_runs", LongType()),
    ])

    def fn(key, pdfs, state):
        parts = [p for p in pdfs]
        if not parts:
            return
        pdf = pd.concat(parts).sort_values(["_ts_us", "_tb"])
        types = list(pdf[type_col])
        if not types:
            return
        if state.exists:
            last_type, run_len, max_run, n_events, n_runs = state.get
        else:
            last_type, run_len, max_run, n_events, n_runs = None, 0, 0, 0, 0

        def differs(a, b):
            # IS DISTINCT FROM, matching the batch operator's oracle:
            # None vs None continues a run, None vs value is a change
            return (a is None) != (b is None) or (a is not None and a != b)

        has_carry = n_events > 0
        seq = ([last_type] + types) if has_carry else types
        breaks = [i - 1 for i in range(1, len(seq)) if differs(seq[i], seq[i - 1])]
        seg_starts = [0] + [b + 1 for b in breaks]
        seg_ends = breaks + [len(seq) - 1]
        for i, (s, z) in enumerate(zip(seg_starts, seg_ends)):
            seg_len = z - s + 1
            if i == 0 and has_carry:
                seg_len = run_len + seg_len - 1  # marker isn't an event
                if seg_len == run_len:
                    # segment 0 is the lone carry marker (types[0]
                    # differs): the carried run is unchanged and already
                    # counted — skip so max/run counts don't double
                    continue
            else:
                n_runs += 1
            max_run = max(max_run, seg_len)
            run_len = seg_len  # after the loop: the TRAILING run length
        last_type = types[-1]
        n_events += len(types)
        state.update((last_type, run_len, max_run, n_events, n_runs))
        yield pd.DataFrame({
            key_col: [key[0]],
            "n_events": [n_events],
            "n_runs": [n_runs],
            "max_run": [max_run],
            "repeat_frac": [round((n_events - n_runs) / n_events + 1e-9, 6)],
            "looping": [int(max_run >= loop_threshold)],
        })

    narrow = stream_df.select(
        F.col(key_col), F.col(type_col),
        ts_micros(F.col(ts_col)).alias("_ts_us"),
        F.col(tiebreak_col).alias("_tb"),  # natural type — any orderable
    )
    return narrow.groupBy(key_col).applyInPandasWithState(
        fn, out_schema, state_schema, "append", "NoTimeout"
    )


def streaming_psi(
    stream_df: DataFrame,
    ref: DataFrame,
    group_col: str = "event_type",
    value_col: str = "value",
    n_bins: int = 10,
    eps: float = 1e-6,
    round_digits: int = 6,
):
    """LIVE distribution-drift monitoring: the streaming twin of
    operators/drift.psi_by_group. The REFERENCE slice is frozen up
    front — its per-group decile edges and smoothed bin fractions are
    computed once batch-side (tiny: groups x bins, the operator's scale
    contract) and carried into the stream; each micro-batch's rows are
    binned MAP-ONLY against the broadcast edges (stream-static join +
    the shared bin_index_column expression), and per-group cumulative
    bin counts live in applyInPandasWithState. After every batch each
    touched group emits its cumulative (n_ref, n_cur, psi) row — an
    update stream whose latest row per group equals the BATCH
    psi_by_group(ref, everything-ingested-so-far) (tested; the driver
    query hash-matches the psi_drift oracle).

    Groups absent from the reference are dropped exactly like the batch
    operator (no edges — the stream-static inner join filters them).
    State per group is the n_bins count vector; PSI arithmetic replays
    the batch formula term-for-term in fixed bin order with the same
    eps smoothing and round(+1e-9) discipline."""
    import math

    import pandas as pd
    from pyspark.sql.types import (
        DoubleType, LongType, StructField, StructType,
    )

    from ..operators.drift import bin_index_column, reference_edges

    edges = reference_edges(ref, group_col, value_col, n_bins, round_digits)
    # freeze the reference side: smoothed fractions per (group, bin) —
    # bounded by groups x bins, the same driver-state contract as the
    # k-means centroids
    ref_binned = ref.join(F.broadcast(edges), group_col).select(
        group_col, bin_index_column(value_col).alias("_bin")
    )
    ref_rows = (
        ref_binned.groupBy(group_col, "_bin")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    ref_counts: dict = {}
    for r in ref_rows:
        g = r[group_col]
        ref_counts.setdefault(g, [0] * n_bins)[r["_bin"]] += r["n"]
    ref_stats = {
        g: (sum(c), [c[b] / sum(c) + eps for b in range(n_bins)])
        for g, c in ref_counts.items()
    }

    key_type = stream_df.schema[group_col].dataType
    out_schema = StructType([
        StructField(group_col, key_type),
        StructField("n_ref", LongType()),
        StructField("n_cur", LongType()),
        StructField("psi", DoubleType()),
    ])
    state_schema = StructType(
        [StructField(f"b{i}", LongType()) for i in range(n_bins)]
    )

    def fn(key, pdfs, state):
        parts = [p for p in pdfs]
        if not parts:
            return
        pdf = pd.concat(parts)
        if pdf.empty:
            return
        counts = list(state.get) if state.exists else [0] * n_bins
        vc = pdf["_bin"].value_counts()
        for b, n in vc.items():
            counts[int(b)] += int(n)
        state.update(tuple(counts))
        group = key[0]
        n_ref, p_ref = ref_stats[group]
        tot = sum(counts)
        psi = 0.0
        for b in range(n_bins):
            pc = counts[b] / tot + eps
            psi += (pc - p_ref[b]) * math.log(pc / p_ref[b])
        yield pd.DataFrame({
            group_col: [group],
            "n_ref": [n_ref],
            "n_cur": [tot],
            "psi": [round(psi + 1e-9, round_digits)],
        })

    binned = stream_df.join(F.broadcast(edges), group_col).select(
        group_col, bin_index_column(value_col).alias("_bin")
    )
    return binned.groupBy(group_col).applyInPandasWithState(
        fn, out_schema, state_schema, "append", "NoTimeout"
    )


def contamination_batch_fn(
    store_root: str,
    test: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
    hash_fn: str = "md5",
    n_buckets: int = 64,
):
    """foreachBatch function for STREAMING train/test decontamination —
    the live twin of operators/dedup.ngram_contamination, so newly
    ingested training documents are screened against the frozen
    evaluation set as they arrive instead of in a end-of-pipeline batch
    sweep.

    The test side is frozen at head construction (its distinct n-gram
    hash keys — benchmark-set-sized, so the per-batch probe join is
    AQE-broadcastable exactly like the batch operator). Contamination
    is a PURE per-document function of (own text, frozen keys): no
    cross-batch state is needed, and the maintained "verdicts"
    SnapshotTable is a plain per-id upsert — replayed ids REPLACE their
    row, so foreachBatch redelivery converges trivially.

    Invariant (tested): after every micro-batch, verdicts ==
    ngram_contamination(latest version of every ingested doc, test).
    Storage mirrors the other heads: hash-bucketed by id, only touched
    buckets rewritten per batch."""
    import os

    from ..operators.dedup import ngram_contamination
    from ..sources.table import SnapshotTable

    table = SnapshotTable(os.path.join(store_root, "verdicts"))

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        from pyspark import StorageLevel

        sp = batch_df.sparkSession
        # latest version per id within the batch (a replay file can
        # carry the same id twice): keep the max text by (length, text)
        # struct — deterministic, matches the other heads' intra-batch
        # dedupe discipline
        latest = (
            batch_df.groupBy(F.col(id_col))
            .agg(F.max(F.struct(F.length(text_col).alias("_l"),
                                F.col(text_col).alias("_t"))).alias("_s"))
            .select(F.col(id_col), F.col("_s._t").alias(text_col))
        )
        prof = ngram_contamination(
            latest, test, id_col=id_col, text_col=text_col, n=n,
            hash_fn=hash_fn,
        ).withColumn(
            "bucket", F.pmod(F.xxhash64(F.col(id_col).cast("string")),
                             F.lit(n_buckets)).cast("int")
        ).persist(StorageLevel.MEMORY_AND_DISK)
        try:
            new_ids = prof.select(id_col).distinct()
            try:
                cur = table.read(sp)
                touched = sorted(
                    {r["bucket"] for r in
                     prof.select("bucket").distinct().collect()}
                    | {r["bucket"] for r in
                       cur.join(new_ids, id_col, "semi")
                       .select("bucket").distinct().collect()}
                )
                keep = (
                    cur.filter(F.col("bucket").isin(touched))
                    .join(new_ids, id_col, "left_anti")
                )
                table.overwrite_partitions(
                    keep.unionByName(prof), ["bucket"],
                    also_replace={f"bucket={b}" for b in touched},
                )
            except FileNotFoundError:
                table.overwrite(prof, ["bucket"])
        finally:
            prof.unpersist()

    return _apply


def start_contamination_stream(
    spark,
    input_dir: str,
    store_root: str,
    checkpoint_dir: str,
    schema,
    test: DataFrame,
    **kwargs,
):
    """File-source streaming decontamination: new parquet training-doc
    files under `input_dir` are screened against the frozen `test` set
    micro-batch by micro-batch (contamination_batch_fn); verdicts
    accumulate under `store_root`. Returns the StreamingQuery."""
    src = spark.readStream.schema(schema).parquet(input_dir)
    return (
        src.writeStream
        .foreachBatch(contamination_batch_fn(store_root, test, **kwargs))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def streaming_anomaly_zscore(
    stream_df: DataFrame,
    key_col: str = "user_id",
    order_col: str = "event_id",
    value_col: str = "value",
    window: int = 20,
    min_points: int = 5,
    threshold: float = 2.0,
):
    """LIVE causal anomaly monitoring: the streaming twin of
    operators/tsstats.rolling_zscore_anomalies. Per-series state is the
    trailing `window` values (bounded: W doubles per key); each
    micro-batch's points are scored against state + earlier points of
    the same batch, flagged rows are emitted append-mode, and the state
    advances to the last W values seen.

    Emits (key, order, value, n_base, z) — exactly the batch operator's
    flagged relation — PROVIDED batches arrive in `order_col` order per
    key (the file-staging discipline: order-ranged files, pinned
    mtimes, maxFilesPerTrigger=1) and `order_col` order matches the
    batch operator's (ts, tiebreak) order (true whenever ts is
    monotone in the tiebreak id, as in the driver events table). The
    z arithmetic replays the batch formula: trailing-W mean,
    sample std, round(z + 1e-9, 6) — including the batch NULL
    semantics (null rows occupy frame slots but never contribute to
    the moments and are never flagged)."""
    import math

    import pandas as pd
    from pyspark.sql.types import (
        ArrayType, DoubleType, LongType, StructField, StructType,
    )

    key_type = stream_df.schema[key_col].dataType
    order_type = stream_df.schema[order_col].dataType
    out_schema = StructType([
        StructField(key_col, key_type),
        StructField(order_col, order_type),
        StructField(value_col, DoubleType()),
        StructField("n_base", LongType()),
        StructField("z", DoubleType()),
    ])
    state_schema = StructType([StructField("vals", ArrayType(DoubleType()))])

    def fn(key, pdfs, state):
        parts = [p for p in pdfs if len(p)]
        if not parts:
            return
        pdf = pd.concat(parts).sort_values(order_col)
        hist = list(state.get[0]) if state.exists else []
        orders, vals, bases, zs = [], [], [], []
        for o, v in zip(pdf[order_col], pdf[value_col]):
            v = None if pd.isna(v) else float(v)
            # batch parity for NULL values: a null row occupies a frame
            # slot (n_base = count(*) counts it) but contributes nothing
            # to mean/std (avg/stddev_samp skip nulls) and is itself
            # never flagged
            base = hist[-window:]
            nb = len(base)
            nn = [b for b in base if b is not None]
            if v is not None and nb >= min_points and len(nn) >= 2:
                m = sum(nn) / len(nn)
                var = sum((b - m) ** 2 for b in nn) / (len(nn) - 1)
                if var > 0:
                    z = round((v - m) / math.sqrt(var) + 1e-9, 6)
                    if abs(z) > threshold:
                        orders.append(o)
                        vals.append(v)
                        bases.append(nb)
                        zs.append(z)
            hist.append(v)
        state.update((hist[-window:],))
        if orders:
            yield pd.DataFrame({
                key_col: [key[0]] * len(orders),
                order_col: orders,
                value_col: vals,
                "n_base": bases,
                "z": zs,
            })

    return stream_df.select(key_col, order_col, value_col).groupBy(
        key_col
    ).applyInPandasWithState(
        fn, out_schema, state_schema, "append", "NoTimeout"
    )


def streaming_session_window(
    stream_df: DataFrame,
    gap: str = "12 hours",
    key_col: str = "user_id",
    ts_col: str = "ts",
    delay: str = "1 second",
) -> DataFrame:
    """Gap-based sessionization on Spark's NATIVE session_window — the
    idiomatic Structured Streaming counterpart to the custom
    applyInPandasWithState `streaming_sessionize`. The built-in merges
    an event into the open session when its timestamp is within `gap`
    of the session's last event (boundary-inclusive: an event exactly
    `gap` later still merges — verified against the batch gaps-and-
    islands construction, which opens on diff > gap), keeps per-session
    state in the engine's own state store (RocksDB-capable, no Python
    state), and EMITS a session exactly once, in the micro-batch whose
    watermark passes the session's window end:

        emitted  <=>  last_event_ts + gap <= max_seen_ts - delay

    so the trailing open session per key is withheld until later data
    (or a sentinel) closes it — the same contract as
    `streaming_sessionize(watermark=...)`, but with merging, state
    eviction, and late-data handling all inside the JVM. Note the
    eviction corollary: an event arriving BELOW the watermark is late
    data and starts a fresh session rather than reopening an evicted
    one (tests pin this); with globally time-ordered ingest (the
    engine's staging contract — ts monotone in event_id) no event is
    ever late and cross-batch merges are exact.

    Returns (key, session_start, session_end, n_events) where
    session_start/end are the first/last observed event times (the
    engine's window end is last + gap; subtracting is left to the
    caller since min/max are cheaper than struct surgery)."""
    return (
        stream_df.withWatermark(ts_col, delay)
        .groupBy(F.col(key_col), F.session_window(F.col(ts_col), gap))
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
        )
        .select(key_col, "session_start", "session_end", "n_events")
    )


def hll_batch_fn(store_root: str, col: str = "tok", p: int = 10):
    """foreachBatch function for a LIVE cardinality monitor: maintains
    the deterministic HLL's bucket state (operators/sketch) across
    micro-batches, so "how many distinct values have we ever seen"
    stays answerable in O(2^p) state while the stream grows without
    bound — the streaming use-case HLL was designed for.

    State discipline: the per-bucket max-rank relation is mergeable by
    plain groupBy-max, and max is IDEMPOTENT — re-delivering a batch
    (foreachBatch's at-least-once contract) merges to the identical
    state, so no dedup ledger is needed. Durability: the state lives
    in a SnapshotTable (manifest-first commits, the engine's table
    layer) — a crash mid-write leaves the previous committed snapshot
    intact, so the merged state can never be lost to a half-written
    overwrite (a bare parquet overwrite deletes before it writes).
    The state table is <= 2^p rows, collected driver-side per batch
    (bounded by construction)."""
    import os

    from ..operators.sketch import hll_bucket_rows
    from ..sources.table import SnapshotTable

    table = SnapshotTable(os.path.join(store_root, "hll_state"))

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        sp = batch_df.sparkSession
        fresh = hll_bucket_rows(batch_df, col, p)
        if table.current_snapshot_id() is not None:
            prev = table.read(sp)
            merged = (
                prev.unionByName(fresh)
                .groupBy("_b").agg(F.max("_rmax").cast("int").alias("_rmax"))
            )
        else:
            merged = fresh
        # materialize BEFORE overwriting the relation being read; <= 2^p
        # rows by construction, so the driver hop is bounded
        rows = merged.collect()
        table.overwrite(sp.createDataFrame(rows, "_b long, _rmax int"))

    return _apply


def hll_state_estimate(spark, store_root: str, p: int = 10,
                       round_digits: int = 2) -> DataFrame:
    """Single-row estimate from the streamed bucket state — equals
    operators/sketch.hll_distinct over everything ingested. A stream
    that never saw a non-empty batch has no state yet: that is the
    defined empty sketch (estimate 0), not an error."""
    import os

    from ..operators.sketch import hll_estimate_from_buckets
    from ..sources.table import SnapshotTable

    table = SnapshotTable(os.path.join(store_root, "hll_state"))
    if table.current_snapshot_id() is None:
        state = spark.createDataFrame([], "_b long, _rmax int")
    else:
        state = table.read(spark)
    return hll_estimate_from_buckets(state, p, round_digits)


def _batch_store_writer(
    store_root: str, partial: Callable[[DataFrame], DataFrame]
) -> Callable[[DataFrame, int], None]:
    """foreachBatch function for a sum-merged exactly-once store (the
    pattern cms_batch_fn documents): each non-empty micro-batch's
    ``partial(batch_df)`` is written to its own ``batch=<id>`` directory
    with overwrite, so a redelivered batch_id rewrites the same directory
    with the same rows."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # partials are bounded by construction (keys x buckets rows);
        # coalesce(1) keeps the batch dir a single deterministic file so a
        # replay replaces it whole
        partial(batch_df).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(store_root, f"batch={batch_id}")
        )

    return _apply


def _read_batch_store(
    spark, store_root: str, empty_schema: str,
    merge: Callable[[DataFrame], DataFrame],
) -> DataFrame:
    """``merge`` over every committed ``batch=<id>`` partial under
    ``store_root``; a store with no batches yet (the stream never saw a
    non-empty batch) is the empty relation of ``empty_schema``."""
    dirs = sorted(glob.glob(os.path.join(store_root, "batch=*")))
    if not dirs:
        return spark.createDataFrame([], empty_schema)
    return merge(spark.read.parquet(*dirs))


def cms_batch_fn(store_root: str, col: str = "tok", d: int = 4, w: int = 512):
    """foreachBatch function for a LIVE token-frequency monitor:
    maintains the deterministic Count-Min counter state
    (operators/sketch) across micro-batches — point-frequency and
    heavy-hitter queries stay answerable in O(d*w) state while the
    stream grows without bound.

    State discipline — the OTHER exactly-once pattern: CMS counters
    merge by SUM, which (unlike the HLL's max) is NOT idempotent, so a
    replayed delivery would double-count if batches were merged into
    one running total. Instead each micro-batch's partial counter
    relation (<= d*w rows, deterministic content) is written to its own
    ``batch=<id>`` directory with overwrite semantics: foreachBatch
    retries re-deliver the SAME batch_id, the rewrite is byte-identical,
    and the read side sums across batch directories — at-least-once
    delivery converges to exactly-once state without a transactional
    sink. A crash mid-write leaves one torn batch directory that the
    restart's redelivery of that same batch_id rewrites whole."""
    from ..operators.sketch import cms_counter_rows

    return _batch_store_writer(
        store_root, lambda b: cms_counter_rows(b, col, d, w))


def cms_state_counters(spark, store_root: str) -> DataFrame:
    """The merged counter state from every committed batch partial —
    equals operators/sketch.cms_counter_rows over everything ingested.
    A stream that never saw a non-empty batch has the defined empty
    sketch (every estimate reads 0)."""
    return _read_batch_store(
        spark, store_root, "_row int, _b int, _n long",
        lambda parts: parts.groupBy("_row", "_b")
        .agg(F.sum("_n").cast("long").alias("_n")))


def ddsketch_batch_fn(store_root: str, value_col: str = "value",
                      group_cols: tuple[str, ...] = ("event_type",),
                      alpha: float = 0.01):
    """foreachBatch function for a LIVE quantile monitor: maintains the
    DDSketch bucket relation (operators/sketch) across micro-batches —
    p50/p90/p99 with a relative-error guarantee stay answerable in
    groups x O(log range) state while the stream grows without bound.

    State discipline: bucket counts merge by SUM (not idempotent), so
    this uses the cms_batch_fn exactly-once pattern — each batch's
    partial bucket relation is written to its own ``batch=<id>``
    directory; foreachBatch retries re-deliver the same batch_id and
    rewrite the identical bytes; the read side sums across batch
    directories, so at-least-once delivery converges to exactly-once
    state."""
    from ..operators.sketch import ddsketch_buckets

    return _batch_store_writer(
        store_root,
        lambda b: ddsketch_buckets(b, value_col, group_cols, alpha))


def ddsketch_state_buckets(
    spark, store_root: str,
    group_cols: tuple[str, ...] = ("event_type",),
    group_schema: str = "event_type string",
) -> DataFrame:
    """The merged bucket relation from every committed batch partial —
    equals operators/sketch.ddsketch_buckets over everything ingested,
    so operators/sketch.ddsketch_quantiles reads identically off it
    (the == batch invariant the driver query pins). An empty stream is
    the defined empty sketch."""
    return _read_batch_store(
        spark, store_root, f"{group_schema}, bkt int, cnt long",
        lambda parts: parts.groupBy(*group_cols, "bkt")
        .agg(F.sum("cnt").cast("long").alias("cnt")))


def m4_batch_fn(store_root: str, bucket_sec: int = 3600,
                key_cols: tuple[str, ...] = ("event_type",),
                ts_col: str = "ts", value_col: str = "value",
                tiebreak_col: str = "event_id"):
    """foreachBatch function for LIVE M4 downsampling: each
    micro-batch's mergeable partial (operators/downsample.m4_partial —
    selector structs + count) commits to its own ``batch=<id>``
    directory; replays rewrite identical bytes (the cms/ddsketch
    exactly-once pattern — the count field is a sum, so a merged
    running state would double-count on redelivery). State is
    series x buckets rows per batch, independent of event volume."""
    from ..operators.downsample import m4_partial

    return _batch_store_writer(
        store_root,
        lambda b: m4_partial(b, bucket_sec, key_cols, ts_col, value_col,
                             tiebreak_col))


def m4_state(spark, store_root: str, bucket_sec: int = 3600,
             key_cols: tuple[str, ...] = ("event_type",)) -> DataFrame:
    """Finalized M4 rows from every committed batch partial — equals
    operators/downsample.m4_downsample over everything ingested (the
    merge uses the same selectors that built the partials). An empty
    stream yields the empty relation."""
    from ..operators.downsample import m4_finalize, m4_merge

    return _read_batch_store(
        spark, store_root,
        "event_type string, bucket_idx long, "
        "bucket_start timestamp, v_first double, v_last double, "
        "v_min double, v_max double, t_min_sec double, "
        "t_max_sec double, n long",
        lambda parts: m4_finalize(m4_merge(parts, key_cols), bucket_sec,
                                  key_cols))


def grid_batch_fn(store_root: str,
                  key_cols: tuple[str, ...] = ("user_id",),
                  ts_col: str = "ts", value_col: str = "value"):
    """foreachBatch function maintaining the MERGEABLE HOURLY GRID —
    per (key, hour) value sum + count, the sufficient statistic behind
    the whole grid family (Mann-Kendall, Theil-Sen, Holt's grid,
    seasonal profiles): any of their batch tails can run off the
    merged state at any time. Sum/count partials commit per batch=<id>
    directory (the cms exactly-once pattern: sums are not idempotent,
    replays rewrite identical bytes). State is keys x span-hours rows
    per batch, independent of event volume."""
    return _batch_store_writer(
        store_root,
        lambda b: b.groupBy(
            *key_cols, F.date_trunc("hour", F.col(ts_col)).alias("h"))
        .agg(F.sum(F.col(value_col).cast("double")).alias("s"),
             F.count("*").cast("long").alias("c")))


def grid_state(spark, store_root: str,
               key_cols: tuple[str, ...] = ("user_id",),
               key_schema: str = "user_id long",
               round_digits: int = 6) -> DataFrame:
    """The merged hourly mean grid (key..., h, x) from every committed
    batch partial — sum-of-sums / sum-of-counts, rounded with the
    repo's half-up discipline, so it equals the batch grid that
    mann_kendall & co. build directly (the 6-decimal round absorbs the
    partial-sum association order, exactly as it absorbs Spark's own
    partition order in the batch path)."""
    return _read_batch_store(
        spark, store_root, f"{key_schema}, h timestamp, x double",
        lambda parts: parts.groupBy(*key_cols, "h")
        .agg(F.round(F.sum("s") / F.sum("c") + F.lit(1e-9),
                     round_digits).alias("x")))


def streaming_holt(
    stream_df: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    alpha: float = 0.5,
    beta: float = 0.3,
    horizon: int = 24,
    round_digits: int = 6,
):
    """LIVE Holt forecaster: the stateful streaming twin of
    operators/tsstats.holt_linear. Per-key state carries the recursion
    (open hour bucket + its partial count, the last committed level/
    trend/SSE, and the y-history needed for initialization) across
    micro-batch boundaries via applyInPandasWithState, so an hour
    split across batches folds ONCE with its full count and the gap
    hours between events fold as the zero-filled grid does in batch.

    After each batch the operator emits the key's cumulative fitted
    row — (n_hours, level, trend, forecast_h, rmse_1step) over
    everything ingested so far INCLUDING the still-open hour (folded
    provisionally for emission, committed only when a later hour
    arrives) — so the latest row per key equals the batch operator
    over the same prefix, and the final row matches `holt_forecast`'s
    SQL oracle exactly. `n_events` (cumulative, strictly increasing)
    is emitted so downstream can pick the latest row per key without
    relying on ties.

    Ordering: per-key ingestion must be event-time ordered ACROSS
    batches (the run-stats head's assumption; bound it with source
    ordering). State is one tiny tuple per key, NoTimeout. Keys with
    fewer than 3 grid hours so far emit nothing (matching batch).
    """
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType, LongType, StructField, StructType,
    )

    HOUR_US = 3_600_000_000
    a1, a0 = float(alpha), float(1.0 - alpha)
    b1, b0 = float(beta), round(1.0 - beta, 12)

    key_type = stream_df.schema[key_col].dataType
    out_schema = StructType([
        StructField(key_col, key_type),
        StructField("n_events", LongType()),
        StructField("n_hours", LongType()),
        StructField("level", DoubleType()),
        StructField("trend", DoubleType()),
        StructField("forecast_h", DoubleType()),
        StructField("rmse_1step", DoubleType()),
    ])
    state_schema = StructType([
        StructField("cur_hour_us", LongType()),
        StructField("cur_cnt", LongType()),
        StructField("n_hours", LongType()),   # committed grid hours
        StructField("y_prev", DoubleType()),  # last committed y (for init)
        StructField("l", DoubleType()),
        StructField("b", DoubleType()),
        StructField("sse", DoubleType()),
        StructField("n_events", LongType()),
    ])

    def r6(v):
        return round(v + 1e-9, round_digits)

    def commit(st, y):
        """Fold one completed grid hour into (n, y_prev, l, b, sse)."""
        n, y_prev, l, b, sse = st
        if n == 0:
            return (1, y, l, b, sse)
        if n == 1:
            # l1 = y1, b1 = y1 - y0 (the batch init)
            return (2, y, y, y - y_prev, 0.0)
        pred = l + b
        e = y - pred
        l2 = r6(a1 * y + a0 * pred)
        b2 = r6(b1 * (l2 - l) + b0 * b)
        return (n + 1, y, l2, b2, sse + e * e)

    def fn(key, pdfs, state):
        parts = [p for p in pdfs]
        if not parts:
            return
        pdf = pd.concat(parts)
        if len(pdf) == 0:
            return
        hours = (pdf["_ts_us"] // HOUR_US) * HOUR_US
        counts = hours.value_counts().sort_index()

        if state.exists:
            (cur_hour, cur_cnt, n, y_prev, l, b, sse, n_events) = state.get
        else:
            cur_hour, cur_cnt, n = None, 0, 0
            y_prev, l, b, sse, n_events = 0.0, 0.0, 0.0, 0.0, 0

        st = (n, y_prev, l, b, sse)
        for h, c in counts.items():
            h = int(h)
            if cur_hour is None:
                cur_hour, cur_cnt = h, int(c)
                continue
            if h == cur_hour:
                cur_cnt += int(c)
                continue
            # h > cur_hour: the open hour is complete -> fold it, then
            # fold the zero hours of the gap (the batch grid's fill)
            st = commit(st, float(cur_cnt))
            for _ in range((h - cur_hour) // HOUR_US - 1):
                st = commit(st, 0.0)
            cur_hour, cur_cnt = h, int(c)
        n_events += len(pdf)
        n, y_prev, l, b, sse = st
        state.update((cur_hour, cur_cnt, n, y_prev, l, b, sse, n_events))

        # provisional fold of the still-open hour for emission
        pn, _, pl, pb, psse = commit(st, float(cur_cnt))
        if pn >= 3:
            yield pd.DataFrame({
                key_col: [key[0]],
                "n_events": [n_events],
                "n_hours": [pn],
                "level": [pl],
                "trend": [pb],
                "forecast_h": [r6(pl + float(horizon) * pb)],
                "rmse_1step": [r6((psse / (pn - 2)) ** 0.5)],
            })

    narrow = stream_df.select(
        F.col(key_col), ts_micros(F.col(ts_col)).alias("_ts_us"))
    return narrow.groupBy(key_col).applyInPandasWithState(
        fn, out_schema, state_schema, "append", "NoTimeout"
    )


def streaming_markov_nll(
    stream_df: DataFrame,
    matrix: dict,
    key_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
    round_digits: int = 6,
):
    """LIVE sequence-anomaly scoring: the stateful streaming twin of
    operators/markov.markov_nll against a FROZEN transition matrix
    (``matrix``: {(from, to): prob} — train it batch-side with
    event_transitions and freeze; the reference-edges discipline the
    PSI head uses). Per-key state carries the last event type plus the
    per-(from, to) transition counts — a |types|^2-bounded pair of
    arrays, NOT the stream — so a transition spanning a micro-batch
    boundary scores exactly once. After each batch the key emits its
    cumulative (n_transitions, nll_bits, max_surprise_bits, surprise
    pair) row; the latest row per key equals the batch operator over
    everything ingested (same rounded argmax tie-break: bits desc,
    then lexicographic (from, to)).

    Pairs absent from the frozen matrix (never seen in training) carry
    no defined probability; they are counted in ``n_unseen`` and
    excluded from the score — at 100 TB the alternative (a pseudo-count
    floor) is a caller decision, not a silent default.

    State is one small struct per key, NoTimeout (actor-bounded)."""
    import math

    import pandas as pd
    from pyspark.sql.types import (
        ArrayType, DoubleType, LongType, StringType, StructField,
        StructType,
    )

    key_type = stream_df.schema[key_col].dataType
    ttype = stream_df.schema[type_col].dataType
    out_schema = StructType([
        StructField(key_col, key_type),
        StructField("n_transitions", LongType()),
        StructField("nll_bits", DoubleType()),
        StructField("max_surprise_bits", DoubleType()),
        StructField("surprise_from", StringType()),
        StructField("surprise_to", StringType()),
        StructField("n_unseen", LongType()),
    ])
    state_schema = StructType([
        StructField("last_type", ttype),
        StructField("pair_keys", ArrayType(StringType())),
        StructField("pair_counts", ArrayType(LongType())),
        StructField("n_unseen", LongType()),
    ])
    q = 10.0 ** round_digits
    eps = 1e-9
    sep = "\x1f"  # unit separator — cannot appear in event-type names

    def fn(key, pdfs, state):
        parts = [p for p in pdfs]
        if not parts:
            return
        pdf = pd.concat(parts).sort_values(["_ts_us", "_tb"])
        types = [t for t in pdf[type_col] if t is not None]
        if not types:
            return
        if state.exists:
            last_type, pair_keys, pair_counts, n_unseen = state.get
            counts = dict(zip(list(pair_keys), [int(c) for c in pair_counts]))
            n_unseen = int(n_unseen)
        else:
            last_type, counts, n_unseen = None, {}, 0
        seq = ([last_type] + types) if last_type is not None else types
        for f, t in zip(seq, seq[1:]):
            if (f, t) in matrix:
                k = f + sep + t
                counts[k] = counts.get(k, 0) + 1
            else:
                n_unseen += 1
        last_type = types[-1]
        state.update(
            (last_type, list(counts), [counts[k] for k in counts], n_unseen)
        )
        n = sum(counts.values())
        if n == 0:
            yield pd.DataFrame({
                key_col: [key[0]], "n_transitions": [0], "nll_bits": [None],
                "max_surprise_bits": [None], "surprise_from": [None],
                "surprise_to": [None], "n_unseen": [n_unseen],
            })
            return
        tot = 0.0
        best = None  # (-rbits, f, t): min == bits desc, then pair asc
        for k in sorted(counts):  # deterministic summation order
            f, t = k.split(sep)
            bits = -math.log2(matrix[(f, t)])
            tot += counts[k] * bits
            # half-up rounding, matching Spark/DuckDB round() for
            # non-negative inputs (python round() is banker's)
            rbits = math.floor((bits + eps) * q + 0.5) / q
            cand = (-rbits, f, t)
            if best is None or cand < best:
                best = cand
        yield pd.DataFrame({
            key_col: [key[0]],
            "n_transitions": [n],
            "nll_bits": [math.floor((tot / n + eps) * q + 0.5) / q],
            "max_surprise_bits": [-best[0]],
            "surprise_from": [best[1]],
            "surprise_to": [best[2]],
            "n_unseen": [n_unseen],
        })

    narrow = stream_df.select(
        F.col(key_col), F.col(type_col),
        ts_micros(F.col(ts_col)).alias("_ts_us"),
        F.col(tiebreak_col).alias("_tb"),
    )
    return narrow.groupBy(key_col).applyInPandasWithState(
        fn, out_schema, state_schema, "append", "NoTimeout"
    )


def streaming_gap_deltas(
    stream_df: DataFrame,
    key_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
):
    """LIVE burstiness ingestion: the stateful streaming twin of
    operators/survival.gap_burstiness, emitting per-(actor, type)
    DELTA sufficient statistics each micro-batch. The (B, M) moments
    are functions of ADDITIVE raw sums (n, Σg, Σg², pair sums), so the
    readback is one groupBy-sum over every emitted delta row followed
    by survival.burstiness_finalize — and equals the batch operator
    exactly, including gaps and lag-1 pairs that SPAN micro-batch
    boundaries (state carries the last event's type/time and the last
    completed gap with its opening type).

    Emitting deltas instead of cumulative rows keeps the sink
    append-only and idempotent to downstream summation — no
    latest-row-per-key selection step — and the per-key state is four
    scalars, NoTimeout (actor-bounded)."""
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType, LongType, StructField, StructType,
    )

    key_type = stream_df.schema[key_col].dataType
    ttype = stream_df.schema[type_col].dataType
    out_schema = StructType([
        StructField(key_col, key_type),
        StructField(type_col, ttype),
        StructField("n", LongType()),
        StructField("s1", DoubleType()),
        StructField("s2", DoubleType()),
        StructField("np", LongType()),
        StructField("sx", DoubleType()),
        StructField("sy", DoubleType()),
        StructField("sxx", DoubleType()),
        StructField("syy", DoubleType()),
        StructField("sxy", DoubleType()),
    ])
    state_schema = StructType([
        StructField("last_type", ttype),
        StructField("last_us", LongType()),
        StructField("pg_type", ttype),
        StructField("pg_s", DoubleType()),
    ])

    def fn(key, pdfs, state):
        parts = [p for p in pdfs]
        if not parts:
            return
        pdf = pd.concat(parts).sort_values(["_ts_us", "_tb"])
        if not len(pdf):
            return
        if state.exists:
            last_type, last_us, pg_type, pg_s = state.get
            last_us = None if last_us is None else int(last_us)
        else:
            last_type, last_us, pg_type, pg_s = None, None, None, None
        acc: dict = {}

        def slot(ty):
            if ty not in acc:
                acc[ty] = [0, 0.0, 0.0, 0, 0.0, 0.0, 0.0, 0.0, 0.0]
            return acc[ty]

        for ty, u in zip(pdf[type_col], pdf["_ts_us"]):
            u = int(u)
            if last_us is not None:
                g = (u - last_us) / 1_000_000.0  # gap opened by last_type
                a = slot(last_type)
                a[0] += 1
                a[1] += g
                a[2] += g * g
                if pg_s is not None:
                    # lag-1 pair (pg_s, g) attributed to the type that
                    # opened the FIRST gap — the batch operator's rule
                    b = slot(pg_type)
                    b[3] += 1
                    b[4] += pg_s
                    b[5] += g
                    b[6] += pg_s * pg_s
                    b[7] += g * g
                    b[8] += pg_s * g
                pg_type, pg_s = last_type, g
            last_type, last_us = ty, u
        state.update((last_type, last_us, pg_type, pg_s))
        if not acc:
            return
        yield pd.DataFrame(
            [(key[0], ty, *vals) for ty, vals in acc.items()],
            columns=[key_col, type_col, "n", "s1", "s2", "np",
                     "sx", "sy", "sxx", "syy", "sxy"],
        )

    narrow = stream_df.select(
        F.col(key_col), F.col(type_col),
        ts_micros(F.col(ts_col)).alias("_ts_us"),
        F.col(tiebreak_col).alias("_tb"),
    )
    return narrow.groupBy(key_col).applyInPandasWithState(
        fn, out_schema, state_schema, "append", "NoTimeout"
    )


def streaming_funnel(
    stream_df: DataFrame,
    steps: list[str],
    key_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
    round_digits: int = 6,
):
    """LIVE funnel tracking: the stateful streaming twin of
    operators/funnel.funnel_conversion. Per-key state carries (steps
    reached, first/deepest matched timestamps, and the (ts, tiebreak)
    position bound of the deepest match) across micro-batches, so a
    funnel whose steps arrive in different batches still matches — and
    the strictly-after rule holds across the boundary (an event EQUAL
    to the carried bound cannot re-match). After each batch the key's
    cumulative funnel row is emitted, plus `n_seen` (events ingested
    for the key — the monotone column "latest row per key" selections
    key on). The latest row per key equals the batch operator over
    everything ingested (tested, incl. an availableNow restart).

    Same ingestion contract as streaming_run_stats: rows are sorted by
    (ts, tiebreak) WITHIN a batch; cross-batch order must come from the
    source. State is one tuple per key, NoTimeout."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        BooleanType, DoubleType, IntegerType, LongType, StructField,
        StructType, TimestampType,
    )

    if not steps:
        raise ValueError("steps must be a non-empty ordered list")
    k = len(steps)
    key_type = stream_df.schema[key_col].dataType
    out_schema = StructType([
        StructField(key_col, key_type),
        StructField("steps_reached", IntegerType()),
        StructField("t_first", TimestampType()),
        StructField("t_deepest", TimestampType()),
        StructField("seconds_to_convert", DoubleType()),
        StructField("converted", BooleanType()),
        StructField("n_seen", LongType()),
    ])
    state_schema = StructType([
        StructField("reached", IntegerType()),
        StructField("t_first_us", LongType()),
        StructField("t_deep_us", LongType()),
        StructField("bound_us", LongType()),
        StructField("bound_tb", LongType()),
        StructField("n_seen", LongType()),
    ])

    def fn(key, pdfs, state):
        parts = [p for p in pdfs]
        if not parts:
            return
        pdf = pd.concat(parts).sort_values(["_ts_us", "_tb"])
        ts = pdf["_ts_us"].to_numpy(dtype=np.int64)
        tb = pdf["_tb"].to_numpy(dtype=np.int64)
        ty = pdf[type_col].to_numpy()
        if state.exists:
            reached, t_first, t_deep, bound_us, bound_tb, n_seen = state.get
        else:
            reached, t_first, t_deep, bound_us, bound_tb, n_seen = (
                0, None, None, None, None, 0)
        lo = 0
        if bound_us is not None:
            # strictly-after the carried deepest match: first index with
            # (ts, tb) > (bound_us, bound_tb) in the sorted batch
            lo = int(np.searchsorted(ts, bound_us, side="left"))
            n = len(ts)
            while lo < n and (ts[lo] < bound_us
                              or (ts[lo] == bound_us and tb[lo] <= bound_tb)):
                lo += 1
        while reached < k:
            hits = np.nonzero(ty[lo:] == steps[reached])[0]
            if hits.size == 0:
                break
            j = lo + int(hits[0])
            reached += 1
            t_deep, bound_us, bound_tb = int(ts[j]), int(ts[j]), int(tb[j])
            if reached == 1:
                t_first = int(ts[j])
            lo = j + 1
        n_seen += len(ts)
        state.update((reached, t_first, t_deep, bound_us, bound_tb, n_seen))
        secs = (round((t_deep - t_first) / 1e6 + 1e-9, round_digits)
                if reached == k else None)
        to_ts = (lambda t: None if t is None
                 else pd.Timestamp(np.datetime64(t, "us")))
        yield pd.DataFrame({
            key_col: [key[0]],
            "steps_reached": [reached],
            "t_first": [to_ts(t_first)],
            "t_deepest": [to_ts(t_deep)],
            "seconds_to_convert": [secs],
            "converted": [reached == k],
            "n_seen": [n_seen],
        })

    narrow = stream_df.select(
        F.col(key_col), F.col(type_col),
        ts_micros(F.col(ts_col)).alias("_ts_us"),
        F.col(tiebreak_col).cast("long").alias("_tb"),
    )
    return narrow.groupBy(key_col).applyInPandasWithState(
        fn, out_schema, state_schema, "append", "NoTimeout"
    )


def streaming_pattern_counts(
    stream_df: DataFrame,
    pattern: str = "E{1,8}P",
    max_match_len: int = 9,
    key_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
):
    """LIVE MATCH_RECOGNIZE: the stateful streaming twin of
    operators/seqpattern.sequence_pattern_counts for bounded-length
    patterns. Per-key state is (match count, events seen, first match,
    unconsumed symbol tail) where the tail is truncated to
    max_match_len - 1 chars — EXACT, not approximate: leftmost
    non-overlapping scanning means no match ends inside the unconsumed
    region (it would have been consumed), and any future match spans
    at most max_match_len symbols, so it starts within the kept tail.
    After each batch the head emits the key's cumulative row; the
    latest row per key equals the batch operator over everything
    ingested so far (tested, and the driver query hash-matches the
    batch oracle).

    State is O(max_match_len) per actor — smaller than the run-stats
    head's; the in-order-per-key ingestion assumption and NoTimeout
    bounds are identical to streaming_run_stats."""
    import re as _re

    import pandas as pd
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )

    from ..operators.seqpattern import DEFAULT_SYMBOLS, symbol_column

    rx = _re.compile(pattern)
    key_type = stream_df.schema[key_col].dataType
    out_schema = StructType([
        StructField(key_col, key_type),
        StructField("seq_len", LongType()),
        StructField("n_matches", LongType()),
        StructField("first_match", StringType()),
    ])
    state_schema = StructType([
        StructField("tail", StringType()),
        StructField("seq_len", LongType()),
        StructField("n_matches", LongType()),
        StructField("first_match", StringType()),
    ])
    keep = max(max_match_len - 1, 0)

    def fn(key, pdfs, state):
        parts = [p for p in pdfs]
        if not parts:
            return
        pdf = pd.concat(parts).sort_values(["_ts_us", "_tb"])
        syms = "".join(pdf["_sym"])
        if not syms:
            return
        if state.exists:
            tail, seq_len, n_matches, first_match = state.get
        else:
            tail, seq_len, n_matches, first_match = "", 0, 0, ""
        s = (tail or "") + syms
        last_end = 0
        for m in rx.finditer(s):
            n_matches += 1
            last_end = m.end()
            if not first_match:
                first_match = m.group(0)
        tail = s[last_end:][-keep:] if keep else ""
        seq_len += len(syms)
        state.update((tail, seq_len, n_matches, first_match))
        yield pd.DataFrame({
            key_col: [key[0]],
            "seq_len": [seq_len],
            "n_matches": [n_matches],
            "first_match": [first_match],
        })

    narrow = stream_df.select(
        F.col(key_col),
        symbol_column(type_col, DEFAULT_SYMBOLS).alias("_sym"),
        ts_micros(F.col(ts_col)).alias("_ts_us"),
        F.col(tiebreak_col).cast("long").alias("_tb"),
    )
    return narrow.groupBy(key_col).applyInPandasWithState(
        fn, out_schema, state_schema, "append", "NoTimeout"
    )


def streaming_page_hinkley(
    stream_df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
    delta: float = 0.005,
    lam: float = 25.0,
    round_digits: int = 6,
):
    """LIVE Page-Hinkley mean-shift detection: the stateful streaming
    twin of operators/drift.page_hinkley. Per-key state is the
    detector's sufficient statistic — (n, sum x, m, running min/max of
    m, first breach micros) — carried across micro-batch boundaries by
    applyInPandasWithState. The per-row update is the IDENTICAL
    sequence of float operations as the batch operator's ordered window
    frames (prefix mean including the current row, prefix sum of
    terms, running extrema, breach test on the ROUNDED running stats),
    so the latest cumulative row per key equals the batch result
    exactly and the oracle is shared.

    Ordering contract matches streaming_run_stats: rows sort by
    (ts, tiebreak) within each batch and per-key ingestion is assumed
    in order across batches (bound it with source ordering). State is
    one 6-field tuple per key, NoTimeout.
    """
    import pandas as pd
    from pyspark.sql.types import (
        BooleanType, DoubleType, LongType, StructField, StructType,
        TimestampType,
    )

    key_type = stream_df.schema[key_col].dataType
    out_schema = StructType([
        StructField(key_col, key_type),
        StructField("n", LongType()),
        StructField("ph_inc", DoubleType()),
        StructField("ph_dec", DoubleType()),
        StructField("drift", BooleanType()),
        StructField("first_breach", TimestampType()),
    ])
    state_schema = StructType([
        StructField("n", LongType()),
        StructField("sum_x", DoubleType()),
        StructField("m", DoubleType()),
        StructField("min_m", DoubleType()),
        StructField("max_m", DoubleType()),
        StructField("breach_us", LongType()),
    ])
    d, lm = float(delta), float(lam)

    def _r(x):
        return round(x + 1e-9, round_digits)

    def fn(key, pdfs, state):
        parts = [p for p in pdfs]
        if not parts:
            return
        pdf = pd.concat(parts).sort_values(["_ts_us", "_tb"])
        if len(pdf) == 0:
            return
        if state.exists:
            n, sum_x, m, min_m, max_m, breach_us = state.get
        else:
            n, sum_x, m, min_m, max_m, breach_us = 0, 0.0, 0.0, None, None, None
        for x, us in zip(pdf["_x"], pdf["_ts_us"]):
            x = float(x)
            n += 1
            sum_x += x
            m += x - sum_x / n - d
            min_m = m if min_m is None else min(min_m, m)
            max_m = m if max_m is None else max(max_m, m)
            if breach_us is None and (_r(m - min_m) > lm
                                      or _r(max_m - m) > lm):
                breach_us = int(us)
        state.update((n, sum_x, m, min_m, max_m, breach_us))
        yield pd.DataFrame({
            key_col: [key[0]],
            "n": [n],
            "ph_inc": [_r(m - min_m)],
            "ph_dec": [_r(max_m - m)],
            "drift": [breach_us is not None],
            "first_breach": [
                pd.to_datetime(breach_us, unit="us")
                if breach_us is not None else pd.NaT
            ],
        })

    narrow = stream_df.select(
        F.col(key_col),
        F.col(value_col).cast("double").alias("_x"),
        ts_micros(F.col(ts_col)).alias("_ts_us"),
        F.col(tiebreak_col).alias("_tb"),
    )
    return narrow.groupBy(key_col).applyInPandasWithState(
        fn, out_schema, state_schema, "append", "NoTimeout"
    )


def streaming_holt_winters(
    stream_df: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    alpha: float = 0.3,
    beta: float = 0.1,
    gamma: float = 0.2,
    period: int = 24,
    round_digits: int = 6,
):
    """LIVE Holt-Winters additive forecaster: the stateful streaming
    twin of operators/tsstats.holt_winters. Extends the streaming_holt
    head with the 24-slot SEASONAL VECTOR riding per-key state as an
    array, plus the init buffer (the first 2*period committed grid
    hours) — initialization in batch needs two full seasons, so the
    stream buffers until the 2m-th hour commits, replays the batch
    init + the fold over hours m..2m-1, and from then on folds each
    committed hour directly. Hour bucketing, gap zero-fill, and the
    provisional fold of the still-open hour all follow streaming_holt;
    the per-step arithmetic (including the per-step rounding of l, b,
    and the touched seasonal slot) is the batch fold's exact float
    sequence, so the latest row per key equals `holt_winters` and the
    oracle is shared. Keys with fewer than 2*period grid hours emit
    nothing (matching batch).
    """
    import pandas as pd
    from pyspark.sql.types import (
        ArrayType, DoubleType, LongType, StructField, StructType,
    )

    HOUR_US = 3_600_000_000
    m = int(period)
    a1, a0 = float(alpha), round(1.0 - alpha, 12)
    b1, b0 = float(beta), round(1.0 - beta, 12)
    g1, g0 = float(gamma), round(1.0 - gamma, 12)

    key_type = stream_df.schema[key_col].dataType
    out_schema = StructType([
        StructField(key_col, key_type),
        StructField("n_events", LongType()),
        StructField("n_hours", LongType()),
        StructField("level", DoubleType()),
        StructField("trend", DoubleType()),
        StructField("seasonal_amplitude", DoubleType()),
        StructField("forecast_24h", DoubleType()),
        StructField("rmse_1step", DoubleType()),
    ])
    state_schema = StructType([
        StructField("cur_hour_us", LongType()),
        StructField("cur_cnt", LongType()),
        StructField("n_hours", LongType()),
        StructField("buf", ArrayType(DoubleType())),
        StructField("l", DoubleType()),
        StructField("b", DoubleType()),
        StructField("s", ArrayType(DoubleType())),
        StructField("sse", DoubleType()),
        StructField("n_events", LongType()),
    ])

    def r6(v):
        return round(v + 1e-9, round_digits)

    def hw_step(l, b, s, sse, t, y):
        """One recursion step at 0-based position t; returns fresh s."""
        j = t % m
        sold = s[j]
        pred = l + b + sold
        sse = sse + (y - pred) * (y - pred)
        l2 = r6(a1 * (y - sold) + a0 * (l + b))
        b2 = r6(b1 * (l2 - l) + b0 * b)
        s = list(s)
        s[j] = r6(g1 * (y - l - b) + g0 * sold)
        return l2, b2, s, sse

    def commit(st, y):
        """Fold one completed grid hour; st = (n, buf, l, b, s, sse)."""
        n, buf, l, b, s, sse = st
        if n < 2 * m:
            buf = list(buf) + [y]
            n += 1
            if n == 2 * m:
                mean1 = sum(buf[:m]) / float(m)
                mean2 = sum(buf[m:2 * m]) / float(m)
                l = r6(mean1)
                b = r6((mean2 - mean1) / m)
                s = [r6(v - l) for v in buf[:m]]
                sse = 0.0
                for t in range(m, 2 * m):
                    l, b, s, sse = hw_step(l, b, s, sse, t, buf[t])
            return (n, buf, l, b, s, sse)
        l, b, s, sse = hw_step(l, b, s, sse, n, y)
        return (n + 1, buf, l, b, s, sse)

    def fn(key, pdfs, state):
        parts = [p for p in pdfs]
        if not parts:
            return
        pdf = pd.concat(parts)
        if len(pdf) == 0:
            return
        hours = (pdf["_ts_us"] // HOUR_US) * HOUR_US
        counts = hours.value_counts().sort_index()

        if state.exists:
            (cur_hour, cur_cnt, n, buf, l, b, s, sse, n_events) = state.get
            buf = list(buf) if buf is not None else []
            s = list(s) if s is not None else []
        else:
            cur_hour, cur_cnt, n = None, 0, 0
            buf, l, b, s, sse, n_events = [], 0.0, 0.0, [], 0.0, 0

        st = (n, buf, l, b, s, sse)
        for h, c in counts.items():
            h = int(h)
            if cur_hour is None:
                cur_hour, cur_cnt = h, int(c)
                continue
            if h == cur_hour:
                cur_cnt += int(c)
                continue
            st = commit(st, float(cur_cnt))
            for _ in range((h - cur_hour) // HOUR_US - 1):
                st = commit(st, 0.0)
            cur_hour, cur_cnt = h, int(c)
        n_events += len(pdf)
        n, buf, l, b, s, sse = st
        state.update((cur_hour, cur_cnt, n, buf, l, b, s, sse, n_events))

        pn, _, pl, pb, ps, psse = commit(st, float(cur_cnt))
        if pn >= 2 * m:
            yield pd.DataFrame({
                key_col: [key[0]],
                "n_events": [n_events],
                "n_hours": [pn],
                "level": [pl],
                "trend": [pb],
                "seasonal_amplitude": [r6(max(ps) - min(ps))],
                "forecast_24h": [r6(pl + float(m) * pb
                                    + ps[(pn - 1) % m])],
                "rmse_1step": [r6((psse / (pn - m)) ** 0.5)],
            })

    narrow = stream_df.select(
        F.col(key_col), ts_micros(F.col(ts_col)).alias("_ts_us"))
    return narrow.groupBy(key_col).applyInPandasWithState(
        fn, out_schema, state_schema, "append", "NoTimeout"
    )


def streaming_lateness(
    stream_df: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    arrival_col: str = "event_id",
    alpha: float = 0.01,
    round_digits: int = 6,
):
    """LIVE out-of-orderness monitor: operators/lateness.lateness_profile
    as a streaming head whose quantiles come from a DDSketch bucket
    store carried IN per-key state — the composition the two designs
    were built for: lateness needs cross-batch sequential state (the
    running event-time max over arrival order), and quantiles in
    bounded state need a mergeable sketch, so the state is
    (running max, n, n_late, exact max lateness, sparse DDSketch
    bucket counts). Every bucket id is the same deterministic
    ceil(round(ln(x)/ln(gamma), 6)) the batch DDSketch relation uses,
    so the oracle replays the entire pipeline in SQL: exact late_us
    per row, dd-bucketed, quantile-selected — the streamed estimates
    hash-match it.

    After each batch the key emits cumulative (n, n_late, frac_late,
    p50/p95/p99 lateness estimates in seconds, exact max) — the
    watermark-sizing dashboard kept warm while the stream runs. State
    is O(log-range) buckets per key, NoTimeout.
    """
    import math as _math

    import pandas as pd
    from pyspark.sql.types import (
        ArrayType, DoubleType, IntegerType, LongType, StructField,
        StructType,
    )

    from ..operators.sketch import _dd_gamma

    gamma = _dd_gamma(alpha)
    lg = float(_math.log(gamma))
    key_type = stream_df.schema[key_col].dataType
    out_schema = StructType([
        StructField(key_col, key_type),
        StructField("n", LongType()),
        StructField("n_late", LongType()),
        StructField("frac_late", DoubleType()),
        StructField("p50_late_s", DoubleType()),
        StructField("p95_late_s", DoubleType()),
        StructField("p99_late_s", DoubleType()),
        StructField("max_late_s", DoubleType()),
    ])
    state_schema = StructType([
        StructField("runmax_us", LongType()),
        StructField("n", LongType()),
        StructField("n_late", LongType()),
        StructField("max_late_us", LongType()),
        StructField("bkts", ArrayType(IntegerType())),
        StructField("cnts", ArrayType(LongType())),
    ])

    def _r(v):
        return round(v + 1e-9, round_digits)

    def _est_s(bkt):
        return _r(2.0 * gamma ** bkt / (gamma + 1.0) / 1e6)

    def fn(key, pdfs, state):
        parts = [p for p in pdfs]
        if not parts:
            return
        pdf = pd.concat(parts).sort_values("_arr")
        if len(pdf) == 0:
            return
        if state.exists:
            runmax, n, n_late, max_late, bkts, cnts = state.get
            counts = dict(zip(list(bkts), list(cnts)))
        else:
            runmax, n, n_late, max_late = None, 0, 0, None
            counts = {}
        for us in pdf["_ts_us"]:
            us = int(us)
            late = (runmax - us) if (runmax is not None and runmax > us) \
                else 0
            runmax = us if runmax is None or us > runmax else runmax
            n += 1
            if late > 0:
                n_late += 1
                max_late = late if max_late is None or late > max_late \
                    else max_late
                b = int(_math.ceil(round(_math.log(float(late)) / lg, 6)))
                counts[b] = counts.get(b, 0) + 1
        state.update((runmax, n, n_late, max_late,
                      list(counts.keys()), list(counts.values())))

        ests = {}
        nl = sum(counts.values())
        if nl > 0:
            items = sorted(counts.items())
            for q in (0.5, 0.95, 0.99):
                target = int(_math.floor(q * (nl - 1))) + 1
                cum = 0
                for b, c in items:
                    cum += c
                    if cum >= target:
                        ests[q] = _est_s(b)
                        break
        yield pd.DataFrame({
            key_col: [key[0]],
            "n": [n],
            "n_late": [n_late],
            "frac_late": [_r(n_late / n)],
            "p50_late_s": [ests.get(0.5)],
            "p95_late_s": [ests.get(0.95)],
            "p99_late_s": [ests.get(0.99)],
            "max_late_s": [None if max_late is None else _r(max_late / 1e6)],
        })

    narrow = stream_df.select(
        F.col(key_col),
        ts_micros(F.col(ts_col)).alias("_ts_us"),
        F.col(arrival_col).alias("_arr"),
    )
    return narrow.groupBy(key_col).applyInPandasWithState(
        fn, out_schema, state_schema, "append", "NoTimeout"
    )
