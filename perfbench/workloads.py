"""The three benchmark workloads. Each drives cesium_spark only through its
public functions and checks its own outputs.

Sizes are chosen so one run (JVM start, set-up, a timed loop, checks) takes
about a minute or less on local[2]; NOTES.md gives the reasoning.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import shutil
import time

import numpy as np
import pandas as pd

from probe import bytes_written, file_states, tree_bytes

# backfill_3tier / wide_1h table: many conversations with a capped Zipf
# size keep the seed-to-seed spread of rows and windows near 3%
N_CONVS, MAX_TURNS = 1000, 50
# daily_cycle: one day of arrivals per step; retention keeps HISTORY_DAYS
# days; the stream repeats a week of template days; LATE_PERCENT of rows
# arrive one day late
DAY_CONVS, DAY_MAX_TURNS = 200, 25
HISTORY_DAYS, WEEK, LATE_PERCENT = 3, 7, 4
TIERS = ("1m", "1h", "1d")
MERGEABLE = ("n_epochs", "mean", "std", "amplitude", "total_time", "avgt")
KEYS = ["conv_id", "window_start"]


def wide_features() -> list[str]:
    """The 67-feature cadence+general set of tools/scaling_bench.py."""
    from cesium_spark.features.registry import CADENCE_FEATS, GENERAL_FEATS

    skip = ("period_fast", "qso_log_chi2_qsonu", "qso_log_chi2nuNULL_chi2nu")
    return [f for f in (*CADENCE_FEATS, *GENERAL_FEATS) if f not in skip]


def default_features() -> list[str]:
    from cesium_spark.jobs import DEFAULT_FEATURES

    return list(DEFAULT_FEATURES)


# ---------------------------------------------------------------- checks


def frame_digest(pdf: pd.DataFrame) -> str:
    """Bit-exact digest of a rollup frame, independent of row order."""
    pdf = pdf.sort_values(KEYS, kind="stable").reset_index(drop=True)
    h = hashlib.sha256()
    for c in sorted(pdf.columns):
        col = pdf[c]
        h.update(c.encode())
        if pd.api.types.is_datetime64_any_dtype(col):
            h.update(col.astype("datetime64[us]").astype("int64").to_numpy().tobytes())
        elif col.dtype == object:
            h.update("\x00".join(map(str, col)).encode())
        else:
            h.update(np.ascontiguousarray(col.to_numpy()).tobytes())
    return h.hexdigest()


def read_rollup(spark, path: str) -> pd.DataFrame:
    pdf = spark.read.parquet(path).toPandas()
    return pdf.drop(columns=[c for c in ("bucket",) if c in pdf.columns])


def sql_mismatches(spark, df, kernel_pdf: pd.DataFrame, tier: str) -> list[str]:
    """The mergeable columns of a kernel rollup agree with the JVM-only
    `rollup_sql` (same rows, n_epochs exact, the rest to float summation
    order)."""
    from cesium_spark.operators.rollup import rollup_sql

    ref = rollup_sql(df, tier).toPandas()
    cols = [c for c in MERGEABLE if c in kernel_pdf.columns]
    got = kernel_pdf[KEYS + cols]
    if len(ref) != len(got):
        return [f"{tier}: rollup_sql has {len(ref)} windows, kernel {len(got)}"]
    j = got.merge(ref[KEYS + cols], on=KEYS, how="inner", suffixes=("", "_sql"))
    if len(j) != len(got):
        return [f"{tier}: {len(got) - len(j)} kernel windows missing from rollup_sql"]
    bad = []
    for c in cols:
        a, b = j[c].to_numpy(), j[c + "_sql"].to_numpy()
        ok = (a == b) if c == "n_epochs" else np.isclose(a, b, rtol=1e-9, atol=1e-12, equal_nan=True)
        if not ok.all():
            bad.append(f"{tier}.{c}: {int((~ok).sum())} windows differ from rollup_sql")
    return bad


# ------------------------------------------------------------- workloads


class Workload:
    """One workload: `setup` (repeated; the last one is kept), `warmup`,
    `op` (the timed unit), `check_op`, `final_check`."""

    name = ""

    def __init__(self, bench):
        self.b = bench
        self.spark = bench.spark
        self.reference: str | None = None
        self.stats: dict = {}

    def new_dir(self, name):
        p = os.path.join(self.b.work, name)
        shutil.rmtree(p, ignore_errors=True)
        return p


class TableWorkload(Workload):
    """Shared set-up of backfill_3tier and wide_1h: generate the Zipf
    transcript table, stage it, append it to a SnapshotTable and warm the
    scan. The table's snapshot directory is the raw parquet input."""

    def setup(self, rep: int):
        from cesium_spark.datagen import generate_transcripts
        from cesium_spark.sources.table import SnapshotTable

        spark, tr = self.spark, self.b.tracer
        staging = self.new_dir(f"staging{rep}")
        with tr.span("datagen.generate"):
            generate_transcripts(spark, n_convs=N_CONVS, seed=self.b.seed,
                                 max_turns=MAX_TURNS).write.parquet(staging)
        table = SnapshotTable(self.new_dir(f"raw{rep}"))
        t0 = time.perf_counter()
        with tr.span("sources.table_append"):
            table.append(spark.read.parquet(staging))
        self.stats.setdefault("append_s", []).append(time.perf_counter() - t0)
        self.input_path = table.snapshots()[-1]["paths"][0]
        self.stats["append_bytes"] = tree_bytes(self.input_path)
        self.table = table
        with tr.span("sources.scan_warm"):
            spark.read.parquet(self.input_path).write.format("noop").mode("overwrite").save()

    def prepare(self):
        self.df = self.spark.read.parquet(self.input_path)
        self.turns = self.df.count()

    def check_op(self, out) -> list[str]:
        """Bit-exact against the recorded digest for the seed, or else the
        first warm-up's output."""
        digest = self.digest(out)
        ref = self.b.stored_digest(self.name) or self.reference
        return [] if digest == ref else [f"{self.name}: output digest {digest[:12]} != reference {ref[:12]}"]

    def warmup(self):
        """One untimed operation: the first one in a fresh JVM runs well
        above the steady time."""
        self.reference = self.digest(self.op(-1))


class Backfill3Tier(TableWorkload):
    """Cold run_rollup from raw parquet to 1m+1h+1d with DEFAULT_FEATURES."""

    name = "backfill_3tier"

    def op(self, i: int) -> dict:
        from cesium_spark.jobs import run_rollup

        out = self.new_dir(f"rollup{i}")
        t0 = time.perf_counter()
        units = run_rollup(self.spark, self.input_path, out,
                           features=default_features(), verbose=False)
        op_s = time.perf_counter() - t0
        return {"op_s": op_s, "cycle_s": op_s, "turns": self.turns, "units": units,
                "out": out, "written": tree_bytes(out)}

    def digest(self, res) -> str:
        return hashlib.sha256("".join(
            frame_digest(read_rollup(self.spark, os.path.join(res["out"], f"tier={t}")))
            for t in TIERS).encode()).hexdigest()

    def check_op(self, res) -> list[str]:
        bad = super().check_op(res)
        for u in res["units"]:
            if u["skipped"] or u["rows_in"] != self.turns:
                bad.append(f"{u['unit']}: skipped={u['skipped']} rows_in={u.get('rows_in')}")
        return bad

    def final_check(self, res) -> list[str]:
        bad = []
        for t in TIERS:
            pdf = read_rollup(self.spark, os.path.join(res["out"], f"tier={t}"))
            bad += sql_mismatches(self.spark, self.df, pdf, t)
        return bad


class Wide1h(TableWorkload):
    """The 67-feature set at the 1h tier via rollup_kernel, written to
    parquet."""

    name = "wide_1h"

    def op(self, i: int) -> dict:
        from cesium_spark.operators.rollup import rollup_kernel

        out = self.new_dir(f"wide{i}")
        t0 = time.perf_counter()
        rollup_kernel(self.df, wide_features(), "1h").write.parquet(out)
        op_s = time.perf_counter() - t0
        return {"op_s": op_s, "cycle_s": op_s, "turns": self.turns, "units": [],
                "out": out, "written": tree_bytes(out)}

    def digest(self, res) -> str:
        return frame_digest(read_rollup(self.spark, res["out"]))

    def final_check(self, res) -> list[str]:
        return sql_mismatches(self.spark, self.df, read_rollup(self.spark, res["out"]), "1h")


class DailyCycle(Workload):
    """Steady operational loop on a raw SnapshotTable that retention keeps
    at HISTORY_DAYS days. Each step appends one day of arrivals plus the
    previous day's late rows, runs run_rollup(resume=True, bucket_days=1)
    and apply_retention with a trailing horizon.

    Event day g holds template day g % 7 shifted by whole weeks, so the
    stream runs as long as the timed loop needs. The templates come from
    one generate_transcripts call over a single day; conversation ci
    belongs to template day ci % 7. LATE_PERCENT of the rows (by a hash of
    the row) arrive one day after their event day.

    run_rollup only reads a parquet path, so the harness keeps a flat
    mirror (partitioned by event day) of the same appends and drops; its
    writes are timed apart (`mirror_s`) and left out of cycle_s."""

    name = "daily_cycle"

    def setup(self, rep: int):
        from pyspark.sql import functions as F

        from cesium_spark.datagen import generate_transcripts
        from cesium_spark.sources.table import SnapshotTable

        spark, tr = self.spark, self.b.tracer
        staging = self.new_dir(f"staging{rep}")
        with tr.span("datagen.generate"):
            # one generator call; conversation ci belongs to template day ci % 7
            tday = F.expr(f"cast(substring(conv_id, 6) as int) % {WEEK}")
            days = generate_transcripts(
                spark, n_convs=DAY_CONVS * WEEK, seed=self.b.seed, span_days=1.0,
                max_turns=DAY_MAX_TURNS,
            ).withColumn("tday", tday).withColumn(
                "ts", F.timestamp_micros(F.unix_micros("ts") + F.col("tday") * F.lit(86_400_000_000)))
            late = F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(100)) < LATE_PERCENT
            days.withColumn("lag", late.cast("int")).repartition("tday", "lag").write.partitionBy(
                "tday", "lag").parquet(staging)
        self.staging = staging
        self.counts = {(r["tday"], r["lag"]): r["count"] for r in
                       spark.read.parquet(staging).groupBy("tday", "lag").count().collect()}
        self.table = SnapshotTable(self.new_dir(f"raw{rep}"))
        self.mirror = self.new_dir(f"mirror{rep}")
        self.rollup = self.new_dir(f"rollup{rep}")
        self.day_rows: dict[int, int] = {}
        # initial history: event days 0..H-1 with everything that arrived by day H-1
        init = [(g, lag) for g in range(HISTORY_DAYS) for lag in (0, 1) if g + lag < HISTORY_DAYS]
        t0 = time.perf_counter()
        with tr.span("sources.table_append"):
            self.table.append(self.arrivals(init))
        self.stats.setdefault("append_s", []).append(time.perf_counter() - t0)
        self.write_mirror(init)
        for g, lag in init:
            self.day_rows[g] = self.day_rows.get(g, 0) + self.counts.get((g, lag), 0)
        self.arrival_day = HISTORY_DAYS - 1
        with tr.span("sources.scan_warm"):
            self.table.read(spark).write.format("noop").mode("overwrite").save()

    def arrivals(self, parts):
        """Rows of the (event day g, lag) pairs, ts shifted from template
        day g % 7 to day g: one filtered staging scan per week shift."""
        from pyspark.sql import functions as F

        raw = self.spark.read.parquet(self.staging)
        by_shift: dict[int, list] = {}
        for g, lag in parts:
            by_shift.setdefault(WEEK * (g // WEEK), []).append(
                (F.col("tday") == g % WEEK) & (F.col("lag") == lag))
        out = None
        for shift, conds in sorted(by_shift.items()):
            cond = conds[0]
            for c in conds[1:]:
                cond = cond | c
            d = raw.filter(cond).drop("tday", "lag")
            if shift:
                d = d.withColumn("ts", F.expr(f"ts + INTERVAL {shift} DAYS"))
            out = d if out is None else out.unionByName(d)
        return out

    def day_of(self, g: int) -> dt.datetime:
        return dt.datetime(2025, 1, 1) + dt.timedelta(days=g)

    def write_mirror(self, parts):
        """Runs in its own job group: the mirror's jobs are the harness's,
        not the operation's."""
        from pyspark.sql import functions as F

        sc = self.spark.sparkContext
        group = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup("harness", "harness")
        try:
            with self.b.tracer.span("harness.mirror"):
                self.arrivals(parts).withColumn("_day", F.to_date("ts")).write.mode(
                    "append").partitionBy("_day").parquet(self.mirror)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", group)

    def prepare(self):
        pass

    def live_bytes(self) -> int:
        """Bytes of the files the table's current snapshot references."""
        return tree_bytes(*self.table.snapshots()[-1]["paths"])

    def warmup(self):
        """Cold rollup of the initial history, then retention (drops nothing)."""
        from cesium_spark.jobs import run_rollup
        from cesium_spark.operators.retention import apply_retention
        from cesium_spark.streaming.checkpoint import LineageLog

        run_rollup(self.spark, self.mirror, self.rollup, resume=True, bucket_days=1, verbose=False)
        apply_retention(self.spark, self.table, LineageLog(os.path.join(self.rollup, "_lineage")),
                        TIERS, self.day_of(0))

    def op(self, i: int) -> dict:
        from cesium_spark.jobs import run_rollup
        from cesium_spark.operators.retention import apply_retention
        from cesium_spark.streaming.checkpoint import LineageLog

        tr = self.b.tracer
        A = self.arrival_day + 1
        parts = [(g, A - g) for g in (A, A - 1) if self.counts.get((g % WEEK, A - g), 0)]
        turns = sum(self.counts[(g % WEEK, lag)] for g, lag in parts)
        before = file_states(self.table.root, self.rollup)
        t0 = time.perf_counter()
        with tr.span("sources.table_append"):
            self.table.append(self.arrivals(parts))
        append_s = time.perf_counter() - t0
        after_append = file_states(self.table.root)
        t0 = time.perf_counter()
        self.write_mirror(parts)
        mirror_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        with tr.span("jobs.run_rollup"):
            units = run_rollup(self.spark, self.mirror, self.rollup, resume=True,
                               bucket_days=1, verbose=False)
        rollup_s = time.perf_counter() - t0
        horizon = self.day_of(A - HISTORY_DAYS + 1)
        live_before = self.live_bytes()
        t0 = time.perf_counter()
        with tr.span("operators.apply_retention"):
            log = LineageLog(os.path.join(self.rollup, "_lineage"))
            rep = apply_retention(self.spark, self.table, log, TIERS, horizon)
        retention_s = time.perf_counter() - t0
        after_retention = file_states(self.table.root)
        t0 = time.perf_counter()
        with tr.span("harness.mirror"):
            for d in rep["dropped_days"]:
                shutil.rmtree(os.path.join(self.mirror, f"_day={d[:10]}"), ignore_errors=True)
        mirror_s += time.perf_counter() - t0
        cycle_s = append_s + rollup_s + retention_s
        after = file_states(self.table.root, self.rollup)
        for g, lag in parts:
            self.day_rows[g] = self.day_rows.get(g, 0) + self.counts[(g % WEEK, lag)]
        # the harness's own model of the table: what retention must report
        present = {g: n for g, n in self.day_rows.items() if n}
        expect_drop = sorted(g for g in present if self.day_of(g) < horizon)
        expected = {
            "dropped_days": [self.day_of(g).isoformat() for g in expect_drop],
            "rows_before": sum(present.values()),
            "rows_after": sum(n for g, n in present.items() if g not in expect_drop),
            "day_rows": dict(present),
        }
        for g in expect_drop:
            self.day_rows[g] = 0
        self.arrival_day = A
        return {
            "op_s": cycle_s + mirror_s, "cycle_s": cycle_s, "turns": turns,
            "units": units, "retention": rep, "expected": expected, "parts": parts,
            "written": bytes_written(before, after),
            "append_s": append_s, "append_bytes": bytes_written(before, after_append),
            "rewrite_bytes": bytes_written(after_append, after_retention),
            "dropped_bytes": live_before - self.live_bytes(),
            "mirror_s": mirror_s, "retention_s": retention_s,
            "lineage_commits": sum(1 for p, v in after.items()
                                   if f"{os.sep}_lineage{os.sep}" in p and before.get(p) != v),
        }

    def check_op(self, res) -> list[str]:
        """Retention reports exactly the harness's row bookkeeping, and
        resume reruns exactly the units of the days that got rows."""
        rep, exp = res["retention"], res["expected"]
        bad = [f"retention {k} = {rep[k]}, expected {exp[k]}"
               for k in ("dropped_days", "rows_before", "rows_after") if rep[k] != exp[k]]
        if rep["blocked_days"]:
            bad.append(f"retention blocked {rep['blocked_days']}")
        changed = {self.day_of(g).strftime("%Y%m%d"): exp["day_rows"][g] for g, _ in res["parts"]}
        for u in res["units"]:
            day = u["unit"].rsplit("-", 1)[1]
            if u["skipped"] == (day in changed):
                bad.append(f"{u['unit']}: skipped={u['skipped']} but day changed={day in changed}")
            elif not u["skipped"] and u["rows_in"] != changed[day]:
                bad.append(f"{u['unit']}: rows_in {u['rows_in']} != {changed[day]}")
        return bad

    def final_check(self, res) -> list[str]:
        """The incremental rollups of the kept days equal a cold run_rollup
        over the same final rows, bit for bit."""
        from cesium_spark.jobs import run_rollup

        cold = self.new_dir("cold")
        run_rollup(self.spark, self.mirror, cold, verbose=False)
        first = min(self.day_of(g) for g, n in self.day_rows.items() if n)
        bad = []
        for t in TIERS:
            inc = read_rollup(self.spark, os.path.join(self.rollup, f"tier={t}"))
            inc = inc[inc["window_start"] >= pd.Timestamp(first)]
            ref = read_rollup(self.spark, os.path.join(cold, f"tier={t}"))
            if frame_digest(inc) != frame_digest(ref[inc.columns]):
                bad.append(f"daily_cycle {t}: incremental rollup != cold run_rollup "
                           f"({len(inc)} vs {len(ref)} windows)")
        return bad


WORKLOADS = {w.name: w for w in (Backfill3Tier, Wide1h, DailyCycle)}
