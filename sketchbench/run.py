"""Seeded sketch benchmark: one workload, one seed, a closed loop of sketch
queries through the package's public API.

    python3 sketchbench/run.py --workload per_conv --seed 1 --seconds 10 --trace 0

One driver process on ``local[nproc]`` runs one job at a time.  After set-up
(session, inputs from the seed, exact references, stored partials for
rollup, a warm-up) it repeats every operation in ``ops.OPS``
at least five times and then while another repetition fits in
``--seconds``, probes the host's speed after each repetition, checks every
answer, and prints as its last line a JSON object with the end-to-end
metrics (``--trace 0``, trimmed means over the repetitions) or the
per-layer metrics (``--trace 1``).  A host record (seed, nproc, memory,
steal, host probes, versions) is printed just before it.  Run from the root
of the repository.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

import numpy as np

ROOT = Path(__file__).resolve().parent.parent
HERE = Path(__file__).resolve().parent
RUNS = HERE / "runs"

# An op's cost is the CPU time it takes in the driver, the JVM and the Python
# workers together (JIT compiling left out), scaled to a reference host speed.
# On a host shared with other tenants, steal and neighbours moved wall medians
# by 25-50 % between runs.  CPU time leaves out the time others hold the
# cores, but neighbours also slow the code itself: an op's CPU moved up to
# twofold between runs, and the host probe (HostProbe) moved with it.  Wall
# time per op is in the traced run.
OP_METRIC = {"q_relational": "quantiles_relational_norm_cpu_s",
             "q_blob": "quantiles_blob_norm_cpu_s", "q_distinct": "distinct_blob_norm_cpu_s",
             "q_rank": "rank_blob_norm_cpu_s"}
END_TO_END = {
    "setup_s": "s", **{m: "s" for m in OP_METRIC.values()},
    "max_rel_err_over_alpha": "ratio",
    "blob_bytes_per_group": "bytes", "python_peak_rss_mb": "MB", "success_rate": "share",
}
SPAN_LAYERS = (
    "session.get_spark", "sources.synth_transcripts", "driver.plan", "sources.scan",
    "expressions.sign_bucket", "ddsketch_fns.build_bins", "ddsketch_fns.quantiles_from_bins",
    "ddsketch_fns.rollup_bins", "ddsketch_fns.ddsketch_agg", "ddsketch_fns.ddsketch_merge",
    "ddsketch_fns.with_quantiles", "sketch_fns.hll_agg", "sketch_fns.hll_estimate_udf",
    "sketch_fns.kll_agg", "sketch_fns.with_sketch_quantiles", "sketch_fns.two_phase_merge",
    "io.read_sketches", "io.write_sketches",
)
SPARK_COUNTERS = {"scan_rows": "count", "shuffle_bytes": "bytes", "shuffle_records": "count",
                  "python_rows_in": "count", "python_bytes_in": "bytes", "spill_bytes": "bytes",
                  "task_skew": "ratio", "gc_s": "s"}
TRACE_PER_OP = {"wall_s": "s", "untraced_wall_s": "s", "untraced_cpu_s": "s", "overhead_s": "s",
                "layer_share": "share"}
CORE = {"ddsketch_add_ns": "ns", "numpy_floor_ns": "ns", "encode_us": "us", "decode_us": "us",
        "quantiles_us": "us", "ddsketch_merge_us": "us", "hll_add_ns": "ns", "hll_merge_us": "us",
        "kll_add_ns": "ns", "kll_merge_us": "us"}
OPS = tuple(OP_METRIC)
PER_LAYER = {
    **{f"{n}_s": "s" for n in SPAN_LAYERS},
    "ddsketch_fns.bins_rows": "count",
    # per_conv has only three sketches big enough to compact, so their worst
    # rank error swings with the seed (up to threefold): no bound can hold it
    "kll_max_rank_err_over_eps": "ratio",
    **{f"spark.{c}.{op}": u for c, u in SPARK_COUNTERS.items() for op in OPS},
    **{f"trace.{c}.{op}": u for c, u in TRACE_PER_OP.items() for op in OPS},
    **{f"core.{c}": u for c, u in CORE.items()},
}
STEAL_FLAG_PCT = 5.0
# Op CPU is reported as if the host probe took this long (seconds; about what
# it took on the 4-core recording host).  Changing it rescales every op metric.
PROBE_REF_S = 0.4
# The first run of a plan is 2-3x slower than later ones, and later runs keep
# speeding up while the JIT compiles: q_relational's CPU for about six runs,
# the other ops' for two or three.  When the number of timed repetitions
# followed the host's speed, a slow host timed fewer of them, earlier on that
# slope, and read high.  A repetition takes about 2-4 s here, so at
# --seconds 10 every run times MIN_REPS repetitions (one more at most on an
# idle host), at about the same point of the slope; the trimmed mean drops
# the highest, most often the first.
WARM_UP_REPS = 1
EXTRA_WARM_UP = {"q_relational": 3}
MIN_REPS = 5


# -------------------------------------------------------------------- host
def process_start() -> float:
    """Wall-clock time this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> tuple[int, int, int]:
    """(total, idle, steal) jiffies of all CPUs; idle includes iowait."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return sum(fields), fields[3] + fields[4], fields[7]


def mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024
    return 0.0


def descendants(pid: int) -> list[int]:
    children = {}
    for d in Path("/proc").iterdir():
        if d.name.isdigit():
            try:
                ppid = int((d / "stat").read_text().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d.name))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


class JitThreads:
    """CPU ticks of the JVM's JIT compiler threads.  Compiling is the JVM
    warming up, not work of the query it happens to overlap, and it goes on
    for several repetitions of each plan."""

    NAMES = ("C1 CompilerThre", "C2 CompilerThre")

    def __init__(self, jvm_pid: int):
        self.task_dir = Path(f"/proc/{jvm_pid}/task")
        self.is_jit: dict[str, bool] = {}

    def ticks(self) -> dict[str, int]:
        out = {}
        for tid in os.listdir(self.task_dir):
            try:
                if tid not in self.is_jit:
                    comm = (self.task_dir / tid / "comm").read_text().strip()
                    self.is_jit[tid] = comm in self.NAMES
                if self.is_jit[tid]:
                    fields = (self.task_dir / tid / "stat").read_text().rsplit(")", 1)[1].split()
                    out[tid] = int(fields[11]) + int(fields[12])  # utime stime
            except OSError:  # the thread ended
                continue
        return out

    @staticmethod
    def seconds_between(before: dict, after: dict) -> float:
        """CPU the compiler threads used between two readings; a thread
        that started in between counts whole."""
        used = sum(t - before.get(tid, 0) for tid, t in after.items())
        return used / os.sysconf("SC_CLK_TCK")


def tree_cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by this process, the JVM and the JVM's
    descendants (the Python workers), including reaped children's."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in (jvm_pid, *descendants(jvm_pid)):
        try:
            fields = Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()
        except OSError:  # a worker that exited; its parent reaps it
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    own = os.times()
    return total / tick + own.user + own.system


def python_peak_rss_mb(jvm_pid: int) -> float:
    """Largest VmHWM among the Python workers under the JVM."""
    peak = 0
    for pid in descendants(jvm_pid):
        try:
            status = Path(f"/proc/{pid}/status").read_text()
            cmd = Path(f"/proc/{pid}/cmdline").read_bytes()
        except OSError:
            continue
        if b"pyspark" not in cmd:
            continue
        for line in status.splitlines():
            if line.startswith("VmHWM:"):
                peak = max(peak, int(line.split()[1]))
    return peak / 1024


def host_speed(samples) -> np.ndarray:
    """Per repetition, the median of the host probes taken after it and its
    two neighbours: the host's speed while it ran, less sensitive to a single
    disturbed probe."""
    p = np.asarray(samples, dtype=float)
    return np.array([np.median(p[max(0, i - 1):i + 2]) for i in range(p.size)])


def trimmed_mean(xs) -> float:
    """Mean without the lowest and the highest value.  Steadier than the
    median over five: some ops' CPU per repetition falls in two clusters."""
    xs = np.sort(np.asarray(xs, dtype=float))
    return float(xs[1:-1].mean() if xs.size > 2 else xs.mean())


class HostProbe:
    """CPU seconds a fixed piece of work takes: sorting a million longs on all
    cores in the JVM, and a Python and numpy loop in this process.  It tells
    how fast the host runs code right now; it calls neither the package nor
    Spark.  Like the ops' CPU, the JVM's leaves out its JIT compiler."""

    N_LONGS = 1_000_000

    def __init__(self, jvm, jvm_pid: int, jit: JitThreads):
        self.arrays = jvm.java.util.Arrays
        self.longs = jvm.java.util.Random(0).longs(self.N_LONGS).toArray()
        self.stat = Path(f"/proc/{jvm_pid}/stat")
        self.jit = jit
        self.x = np.random.default_rng(0).random(200_000)
        self.samples: list[float] = []

    def _jvm_cpu_s(self) -> float:
        fields = self.stat.read_text().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")

    def __call__(self) -> float:
        t0 = time.process_time()
        acc = 0
        for i in range(300_000):
            acc += i * i % 7
        np.sort(np.sin(self.x))
        py = time.process_time() - t0
        jit0, j0 = self.jit.ticks(), self._jvm_cpu_s()
        for _ in range(2):
            self.arrays.parallelSort(self.arrays.copyOf(self.longs, self.N_LONGS))
        jvm = self._jvm_cpu_s() - j0 - JitThreads.seconds_between(jit0, self.jit.ticks())
        self.samples.append(py + jvm)
        return self.samples[-1]


def parquet_rows(path: str) -> int:
    """Rows written to a parquet directory, from the file footers."""
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in pq.ParquetDataset(path).files)


# --------------------------------------------------------------------- run
class Bench:
    def __init__(self, args, run_dir: Path):
        import ops

        self.args = args
        self.run_dir = run_dir
        self.wl = ops.scaled(ops.WORKLOADS[args.workload], args.scale)
        self.attempted = 0
        self.failed = 0
        self.score = ops.Score()
        self.java_version = None
        self.spark = None
        self.last_outs = {}

    def start_session(self, tracer):
        from sketches_go_spark.plans.session import get_spark

        conf = {"spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": str(self.run_dir / "warehouse")}
        if self.args.trace:
            (self.run_dir / "eventlog").mkdir()
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": (self.run_dir / "eventlog").as_uri(),
                         "spark.eventLog.compress": "false",
                         "spark.eventLog.rolling.enabled": "false"})
        with tracer.span("session.get_spark"):
            self.spark = get_spark(cores=len(os.sched_getaffinity(0)),
                                   app_name="sketchbench", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.java_version = self.spark.sparkContext._jvm.System.getProperty("java.version")
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid
        self.jit = JitThreads(self.jvm_pid)
        self.probe = HostProbe(self.spark.sparkContext._jvm, self.jvm_pid, self.jit)

    def setup(self, tracer):
        import ops

        spark, wl = self.spark, self.wl
        with tracer.span("sources.synth_transcripts"):
            turns = ops.make_turns(spark, wl, self.args.seed, str(self.run_dir / "turns.parquet"))
        cols = list(dict.fromkeys([*wl.store_keys, wl.item, "v"]))
        self.raw = turns.select(*cols).toPandas()
        self.ref = ops.build_reference(self.raw, wl)
        store_dir = str(self.run_dir / "store")
        if wl.shards:
            with tracer.span("setup.store"):
                ops.build_store(turns, wl, store_dir, tracer)
            rows = {k: parquet_rows(f"{store_dir}/{k}") for k in ops.STORED}
            self.attempted += 1
            self.failed += not ops.check_store(self.score, self.ref, rows)
        self.ctx = ops.Ctx(spark, wl, turns, store_dir)

    def warm_up(self, tracer):
        import ops

        for _ in range(WARM_UP_REPS):
            self.rep(tracer, check=False)
        for op, n in EXTRA_WARM_UP.items():
            for _ in range(n):
                ops.OP_FNS[op](self.ctx, tracer)

    def rep(self, tracer, check=True, group=None, span_prefix=None):
        """Run every op once; check and count the answers, and keep them in
        ``last_outs``.  Returns op -> wall seconds and op -> CPU seconds
        (without the JIT compiler's)."""
        import ops

        ctx = self.ctx
        outs, walls, cpus = {}, {}, {}
        sc = self.spark.sparkContext
        for op in ops.OPS:
            if group:
                sc.setJobGroup(f"{group}:{op}", op)
            j0 = self.jit.ticks()
            c0 = tree_cpu_s(self.jvm_pid)
            t0 = time.perf_counter()
            try:
                if span_prefix:
                    with tracer.span(f"{span_prefix}{op}"):
                        outs[op] = ops.OP_FNS[op](ctx, tracer)
                else:
                    outs[op] = ops.OP_FNS[op](ctx, tracer)
            except Exception:  # an op that raises is a failed op; keep measuring
                traceback.print_exc(file=sys.stderr)
            walls[op] = time.perf_counter() - t0
            c1 = tree_cpu_s(self.jvm_pid)
            cpus[op] = c1 - c0 - JitThreads.seconds_between(j0, self.jit.ticks())
        self.probe()
        if group:
            sc.setJobGroup("bench", "checks")
        self.last_outs = outs
        if check:
            passed = ops.check_rep(self.score, self.wl, self.ref, outs)
            self.attempted += len(passed)
            self.failed += sum(not p for p in passed.values())
        return walls, cpus

    def stop(self):
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.terminate()
                proc.wait(timeout=60)


def end_to_end(args, bench: Bench, t_proc0: float) -> tuple[dict, dict]:
    from tracing import NullTracer

    null = NullTracer()
    bench.start_session(null)
    bench.setup(null)
    bench.warm_up(null)
    setup_s = time.time() - t_proc0
    times, cpu = {op: [] for op in OPS}, {op: [] for op in OPS}
    bench.probe.samples.clear()
    deadline = time.perf_counter() + args.seconds
    while True:  # MIN_REPS repetitions, then more while the next should fit
        t0 = time.perf_counter()
        walls, cpus = bench.rep(null)
        for op in OPS:
            times[op].append(walls[op])
            cpu[op].append(cpus[op])
        now = time.perf_counter()
        if len(times[OPS[0]]) >= MIN_REPS and now + (now - t0) > deadline:
            break
    rss = python_peak_rss_mb(bench.jvm_pid)
    sc = bench.score
    probe = host_speed(bench.probe.samples)
    metrics = {"setup_s": setup_s,
               **{OP_METRIC[op]: trimmed_mean(np.asarray(cs) * PROBE_REF_S / probe)
                  for op, cs in cpu.items()},
               "max_rel_err_over_alpha": sc.max_rel_err_over_alpha,
               "blob_bytes_per_group": statistics.fmean(sc.blob_bytes) if sc.blob_bytes else 0.0,
               "python_peak_rss_mb": rss,
               "success_rate": 1.0 - bench.failed / max(bench.attempted, 1)}
    detail = {"reps": len(times[OPS[0]]), "times": times, "cpu": cpu,
              "probe": bench.probe.samples}
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()}, detail


def traced(args, bench: Bench) -> tuple[dict, dict]:
    import microbench
    import ops
    from tracing import EventLog, NullTracer, Tracer

    tracer, null = Tracer(f"{args.workload}-{args.seed}"), NullTracer()
    bench.start_session(tracer)
    bench.setup(tracer)
    bench.warm_up(null)
    untraced, untraced_cpu = bench.rep(null, group="untraced")
    public = bench.last_outs
    bench.rep(tracer, span_prefix="op.")
    # the traced ops call the public functions' parts one by one (q_relational
    # on raw turns: build_bins, then quantiles_from_bins); their answers must
    # stay those of the untraced ops
    drift = ops.answer_drift(bench.wl, public, bench.last_outs)
    bench.attempted += 1
    if drift:
        bench.failed += 1
        bench.score.fail("trace", f"traced answers of {drift} differ from the untraced ones")
    bins_rows = sum(df.count() for op, name, df in tracer.cuts if op == "op.q_relational"
                    and name in ("ddsketch_fns.build_bins", "ddsketch_fns.rollup_bins"))
    groups = [g["v"].to_numpy(dtype="float64")
              for _, g in bench.raw.groupby(list(bench.wl.store_keys), dropna=False, sort=False)]
    core = microbench.run(groups, args.seed)
    bench.stop()
    log = EventLog.read(next((bench.run_dir / "eventlog").iterdir()))
    tracer.write(str(bench.run_dir / "spans.jsonl"))

    layers = tracer.layer_seconds()
    metrics = {f"{n}_s": layers.get(n, 0.0) for n in SPAN_LAYERS}
    # the bucket mapping's cost over the scan: same scan with and without it
    metrics["expressions.sign_bucket_s"] = max(
        0.0, layers.get("expressions.sign_bucket", 0.0) - layers.get("sources.scan", 0.0))
    metrics["ddsketch_fns.bins_rows"] = float(bins_rows)
    metrics["kll_max_rank_err_over_eps"] = bench.score.kll_max_rank_err_over_eps
    acct = tracer.op_accounting()
    for op in ops.OPS:
        counters = log.counters(f"untraced:{op}")
        for c in SPARK_COUNTERS:
            metrics[f"spark.{c}.{op}"] = counters[c]
        wall, share = acct[op]
        metrics[f"trace.wall_s.{op}"] = wall
        metrics[f"trace.untraced_wall_s.{op}"] = untraced[op]
        metrics[f"trace.untraced_cpu_s.{op}"] = untraced_cpu[op]
        metrics[f"trace.overhead_s.{op}"] = wall - untraced[op]
        metrics[f"trace.layer_share.{op}"] = share
    metrics.update({f"core.{k}": v for k, v in core.items()})
    return {k: {"value": v, "unit": PER_LAYER[k]} for k, v in metrics.items()}, {}


def parse_args(argv):
    import ops

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(ops.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size as a share of the workload's (tests use a tiny one)")
    return p.parse_args(argv)


def main(argv=None) -> int:
    t_proc0 = process_start()
    # Spark's Python workers import the package from the checkout.
    sys.path.insert(0, str(ROOT))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    args = parse_args(argv)
    run_dir = RUNS / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "local"):
        (run_dir / sub).mkdir(parents=True)
    # keep every file Spark and the JVM write inside the run directory
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "local")
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (
        os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={run_dir / 'tmp'}",
        # compiler threads that exit would take their CPU out of JitThreads'
        # reading but not out of the process total
        "-XX:-UsePerfData", "-XX:-UseDynamicNumberOfCompilerThreads")))

    ticks0 = cpu_ticks()
    bench = Bench(args, run_dir)
    try:
        if args.trace:
            metrics, detail = traced(args, bench)
        else:
            metrics, detail = end_to_end(args, bench, t_proc0)
    finally:
        bench.stop()
        for sub in ("turns.parquet", "store", "local", "tmp", "warehouse", "eventlog"):
            shutil.rmtree(run_dir / sub, ignore_errors=True)
    total, idle, steal = (b - a for a, b in zip(ticks0, cpu_ticks()))
    steal = 100.0 * steal / max(total, 1)
    import pyspark

    host = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)), "mem_total_mb": round(mem_total_mb()),
        "steal_pct": round(steal, 3), "high_steal": steal > STEAL_FLAG_PCT,
        # all CPUs of the host busy, this run and every other tenant together
        "busy_pct": round(100.0 * (total - idle) / max(total, 1), 3),
        "spark": pyspark.__version__, "java": bench.java_version,
        "python": sys.version.split()[0], "n_turns": bench.wl.n_turns,
        "problems": bench.score.problems[:20], **detail,
    }
    (run_dir / "host.json").write_text(json.dumps(host, indent=1) + "\n")
    result = {"correct": bench.failed == 0, "attempted": bench.attempted,
              "failed": bench.failed, "metrics": metrics}
    print(json.dumps({"host": host}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
