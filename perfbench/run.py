"""Rollup benchmark: runs one workload of cesium_spark on local[2] and
prints its metrics; the last stdout line is the JSON result.

    python3 perfbench/run.py --workload backfill_3tier --seed 1 --seconds 5 --trace 0

Workloads (see NOTES.md): backfill_3tier, wide_1h, daily_cycle.
--trace 0 prints the end-to-end metrics; --trace 1 runs traced and
untraced operations alternately and prints the per-layer metrics, with
the tracing overhead. Inputs come from cesium_spark.datagen and depend
only on --seed. Everything the run writes stays under .perfbench/ in the
checkout; the work directory is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
SHUFFLE_PARTITIONS = 4
# Two task threads, each feeding one Python worker, keep four busy threads
# on a 4-CPU host. On local[4], eight busy threads share four CPUs, and two
# competing busy processes slowed run_rollup by 40% (3.5 -> 4.9 s); on
# local[2] they slowed it by 15% (4.6 -> 5.4 s). NOTES.md has the runs.
DEFAULT_CORES = 2
# The heap is committed and touched up front, so the JVM heap's share of
# peak_rss_mb is fixed by this setting and the metric moves with off-heap
# memory and the Python workers. The JIT stops at C1: with C2, run_rollup
# needs about five operations to settle (8.1, 4.4, 4.2, 3.5, 3.0 s) and
# settles no faster than C1 does after one (5.9, 3.4, 3.3, 3.3, 2.9 s).
DRIVER_MEMORY = "2g"


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=None,
                   help=f"local[N] master (default: {DEFAULT_CORES}, or fewer if this "
                        "process may use fewer cores)")
    return p.parse_args(argv)


def pin_environment(work: str):
    """Python workers import the checked-out package; all scratch files
    (Spark local dirs, temp files) stay in the work directory; UTC."""
    sys.path.insert(0, ROOT)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["TZ"] = "UTC"
    import tempfile

    tempfile.tempdir = tmp


T_START = time.perf_counter()


def log(msg: str):
    """Progress on stderr, with seconds since start."""
    print(f"[perfbench {time.perf_counter() - T_START:7.2f}s] {msg}", file=sys.stderr, flush=True)


def cpu_times() -> tuple[int, int]:
    """(total, steal) jiffies of the host's CPUs since boot; steal is time
    the hypervisor gave this machine's CPUs to someone else."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v), v[7]


class Bench:
    def __init__(self, args, work):
        from cesium_spark.session import get_spark
        from probe import StatusStore, Tracer

        self.args = args
        self.seed = args.seed
        self.work = work
        self.cores = args.cores or min(DEFAULT_CORES, len(os.sched_getaffinity(0)))
        self.tracer = Tracer(enabled=bool(args.trace))
        # -UsePerfData: no hsperfdata file in the system temp dir
        java_opts = (f"-Djava.io.tmpdir={os.environ['TMPDIR']} -Duser.timezone=UTC "
                     f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1 "
                     "-XX:-UsePerfData")
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench", master=f"local[{self.cores}]",
            shuffle_partitions=SHUFFLE_PARTITIONS,
            extra_conf={
                "spark.driver.memory": DRIVER_MEMORY,
                "spark.driver.extraJavaOptions": java_opts,
                "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        log("spark session up")
        self.session_s = time.perf_counter() - t0
        self.store = StatusStore(self.spark)
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid
        with open(os.path.join(HERE, "reference_digests.json")) as f:
            self.digests = json.load(f)

    def stored_digest(self, workload: str) -> str | None:
        return self.digests.get(workload, {}).get(str(self.seed))

    def environment(self) -> dict:
        import pyarrow
        import pyspark

        with open("/proc/meminfo") as f:
            mem_kb = int(f.readline().split()[1])
        return {
            "cores": self.cores, "host_cores": os.cpu_count(),
            "ram_gb": round(mem_kb / 2 ** 20, 1), "driver_memory": DRIVER_MEMORY,
            "shuffle_partitions": SHUFFLE_PARTITIONS, "spark": pyspark.__version__,
            "pyarrow": pyarrow.__version__, "python": platform.python_version(),
            "session_start_s": round(self.session_s, 3),
        }

    def stop(self):
        """Stop Spark, the JVM and its Python workers, and wait for them."""
        from probe import descendants

        sc = self.spark.sparkContext
        proc = sc._gateway.proc
        tree = descendants(proc.pid)
        self.spark.stop()
        sc._gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
        deadline = time.time() + 15
        for pid in tree[1:]:
            while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
                time.sleep(0.05)
            if os.path.exists(f"/proc/{pid}"):
                try:
                    os.kill(pid, 9)
                except ProcessLookupError:
                    pass


def run(args) -> dict:
    if not os.path.isdir(os.path.join(ROOT, "cesium_spark")):
        sys.exit(f"cesium_spark not found next to {HERE}")
    sys.path.insert(0, HERE)
    from probe import RssSampler
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        sys.exit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    pin_environment(work)
    bench = Bench(args, work)
    try:
        wl = WORKLOADS[args.workload](bench)
        tr = bench.tracer

        # set-up, repeated: the median is setup_s; the last one is used
        reps = []
        for r in range(SETUP_REPS):
            t0 = time.perf_counter()
            with tr.span("setup"):
                wl.setup(r)
            reps.append(time.perf_counter() - t0)
            log(f"setup {r} done")
        wl.prepare()
        t0 = time.perf_counter()
        with tr.span("warmup"):
            wl.warmup()
        warmup_s = time.perf_counter() - t0
        setup_s = statistics.median(reps) + warmup_s
        log("warm-up done")

        results, failures, traced, untraced = [], [], [], []
        attempted = 0
        sc = bench.spark.sparkContext
        steal0 = cpu_times()
        with RssSampler(bench.jvm_pid) as rss:
            t_end = time.perf_counter() + args.seconds
            i = 0
            while True:
                # untraced, traced, traced, untraced, ...: a linear drift in
                # op time cancels out of the overhead estimate
                trace_this = bool(args.trace) and i % 4 in (1, 2)
                tr.run_id = f"op{i}"
                attempted += 1
                group = f"op{i}"
                sc.setJobGroup(group, group)
                try:
                    t0 = time.perf_counter()
                    if trace_this:
                        with tr.span("op"):
                            res = wl.op(i)
                        res["engine"] = bench.store.summarize(group, res["op_s"], bench.cores)
                    else:
                        res = wl.op(i)
                    wall = time.perf_counter() - t0
                    (traced if trace_this else untraced).append(wall)
                    res["group"] = group
                    # the output checks run Spark jobs of their own
                    sc.setJobGroup("checks", "checks")
                    bad = wl.check_op(res)
                except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
                    traceback.print_exc()
                    res, bad = None, [f"op {i} raised {type(exc).__name__}: {exc}"]
                if bad:
                    failures.append(bad)
                log(f"op {i} done")
                if res is not None:
                    results.append(res)
                i += 1
                # a traced run needs at least one traced operation
                if time.perf_counter() >= t_end and (traced or not args.trace):
                    break
        steal1 = cpu_times()
        if results and not args.trace:
            # untimed: the engine counters of the first operation
            r = results[0]
            r["engine"] = bench.store.summarize(r["group"], r["op_s"], bench.cores)
        sc.setJobGroup("probes", "probes")
        if results:
            try:
                bad = wl.final_check(results[-1])
            except Exception as exc:  # noqa: BLE001
                traceback.print_exc()
                bad = [f"final check raised {type(exc).__name__}: {exc}"]
            if bad:
                failures.append(bad)
        else:
            failures.append(["no operation completed"])
        log("final check done")
        failed = min(attempted, len(failures))
        out = {"correct": failed == 0, "attempted": attempted, "failed": failed}
        print(json.dumps({"env": bench.environment(), "workload": args.workload,
                          "seed": args.seed, "ops": len(results),
                          "op_s": [round(r["op_s"], 4) for r in results],
                          "cycle_s": [round(r["cycle_s"], 4) for r in results],
                          "turns": [r["turns"] for r in results],
                          "mirror_s": [round(r.get("mirror_s", 0.0), 4) for r in results],
                          "setup_reps_s": [round(x, 4) for x in reps],
                          "warmup_s": round(warmup_s, 4),
                          "timings": {k: v for k, (v, _) in timings(results).items()}
                          if results else {},
                          "host_steal_frac": round((steal1[1] - steal0[1]) /
                                                   max(1, steal1[0] - steal0[0]), 4)}))
        if results and not args.trace:
            print(json.dumps({"engine": results[0]["engine"]}))
        for bad in failures:
            print(json.dumps({"failure": bad}))
        print(f"fail_frac {failed / attempted:.4f} ({failed} of {attempted} operations)")
        if not results:
            out["metrics"] = {}
            return out
        if args.trace:
            from layers import per_layer

            metrics = per_layer(bench, wl, results, traced, untraced)
            trace_dir = os.path.join(ROOT, ".perfbench", "traces")
            os.makedirs(trace_dir, exist_ok=True)
            with open(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json"), "w") as f:
                json.dump({"spans": tr.spans, "metrics": metrics}, f)
        else:
            metrics = end_to_end(results, setup_s, rss.peak)
            for name, (v, unit) in timings(results).items():
                print(f"{name} {v:.6g} {unit} (not in the result: see NOTES.md)")
        out["metrics"] = metrics
        for name, m in metrics.items():
            print(f"{name} {m['value']:.6g} {m['unit']}")
        return out
    finally:
        bench.stop()
        shutil.rmtree(work, ignore_errors=True)
        log("stopped")


def end_to_end(results, setup_s, peak_rss) -> dict:
    """The bounded metrics. Apart from setup_s, none of them depends on how
    fast the host runs: a shared host's speed drifts by a quarter over
    minutes, so the operation times are printed (`timings`) but not
    bounded. The counts
    come from the first operation: each later daily_cycle step appends
    another template day, and an average over however many steps fit in
    the run would mix days."""
    first = results[0]
    eng, turns = first["engine"], first["turns"]
    vals = {
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (peak_rss / 2 ** 20, "MB"),
        "write_bytes_per_turn": (first["written"] / turns, "B/turn"),
        "read_bytes_per_turn": (eng["sources.bytes_read"] / turns, "B/turn"),
        "shuffle_bytes_per_turn": (eng["exchange.shuffle_bytes"] / turns, "B/turn"),
        "jobs_per_op": (eng["jobs.spark_jobs"], "count"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in vals.items()}


def timings(results) -> dict:
    """Median operation times: printed for reading, not bounded."""
    return {
        "wall_s": (statistics.median(r["op_s"] for r in results), "s"),
        "turns_per_s": (statistics.median(r["turns"] / r["cycle_s"] for r in results), "1/s"),
        "cycle_s.p50": (statistics.median(r["cycle_s"] for r in results), "s"),
    }


def main():
    args = parse_args()
    out = run(args)
    print(json.dumps(out))
    sys.stdout.flush()


if __name__ == "__main__":
    main()
