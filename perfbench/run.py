"""Benchmark of the sed_binning_spark engine: one closed-loop client (one
analyst session) issues a workload's operations back to back through one
``local[nproc]`` SparkSession and checks every output.

    python3 perfbench/run.py --workload dense_bin --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository.  The inputs are generated
from ``--seed`` into ``.perfbench/run-<pid>/`` (removed at exit); everything
the run writes, Spark's scratch and temp files included, stays under
``.perfbench/``.  The last stdout line is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json, ``--trace 1``
the per-layer ones, and writes spans and per-operation Spark stage metrics to
``.perfbench/trace-<workload>-seed<seed>.json``.  The per-layer run times the
calls into the library's modules from here, tags each operation's Spark jobs
with ``setJobGroup("bench:<workload>:<op>")`` and alternates untraced and
traced passes, so it also reports the tracing overhead.
"""

from __future__ import annotations

import time

_T_IMPORT = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

# Metric name -> unit, as declared in BENCHMARK.json.
END_TO_END = {
    "setup_s": "s", "pass_s": "s", "rows_per_s": "1/s", "driver_peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.get_spark_s": "s",
    "binning.bin_dataframe_s": "s", "binning.route_s": "s",
    "binning.spill_write_s": "s", "binning.spill_collect_s": "s",
    "binning.agg_collect_s": "s", "binning.combine_s": "s",
    "binning.route_driver": "count", "binning.route_shuffle": "count",
    "binning.normalization_histogram_s": "s",
    "calibration.chain_build_s": "s", "calibration.generate_inverse_dfield_s": "s",
    "loaders.read_dataframe_s": "s", "io.hdf5_read.decode_mb_per_s": "MB/s",
    "loaders.file_decodes_per_pass": "count",
    "io.to_h5_s": "s", "io.to_tiff_s": "s", "io.to_nexus_s": "s", "io.export_mb": "MB",
    "pipeline.exact_dedup_s": "s",
    "spark.jobs": "count", "spark.tasks": "count", "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s", "spark.gc_s": "s", "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB", "spark.spill_mb": "MB", "spark.input_mb": "MB",
    "spark.job_wall_s": "s", "driver.outside_jobs_s": "s",
    "crossing.python_stage_s": "s", "crossing.arrow_mb": "MB",
    "host.steal_pct": "%", "host.iowait_pct": "%", "driver.sys_s": "s",
    "host.probe_ms": "ms", "jvm.peak_rss_mb": "MB",
    "bench.traced_pass_s": "s", "bench.untraced_pass_s": "s",
    "bench.tracing_overhead_s": "s", "bench.trace_collect_s": "s",
}

# Set-ups per run: the first launches the JVM, the others restart the
# session in it; setup_s is their median.
SETUPS = 3
# Warm passes after the cold one.  Generated code keeps tiering up over the
# first warm pass, so it is timed but left out of pass_s.
MIN_PASSES = 3
TIER_UP_PASSES = 1
# Stop measuring once this much of the 180 s a run may take has gone.
WALL_BUDGET_S = 140.0
HARD_TIMEOUT_S = 175


def process_start() -> float:
    """Epoch time this process started (from /proc, 10 ms resolution)."""
    try:
        with open("/proc/self/stat") as fh:
            start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as fh:
            uptime = float(fh.read().split()[0])
        return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))
    except (OSError, ValueError, IndexError):
        return _T_IMPORT


def host_mem_gb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    return 8.0


def configure_env(work: str) -> None:
    """The environment the library needs but does not set itself."""
    tmp = os.path.join(work, "tmp")
    for d in ("tmp", "spark-local", "scratch"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    nproc = len(os.sched_getaffinity(0))
    env = {
        # Python workers import the package by module reference
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(nproc),
        # the library defaults to 32g, more than many hosts have
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1, min(4, int(host_mem_gb() / 4)))}g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_SCRATCH_DIR": os.path.join(work, "scratch"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    os.environ.update(env)
    tempfile.tempdir = None  # re-read TMPDIR


def start_session():
    from sed_binning_spark.session import get_spark

    spark = get_spark(app_name="perfbench",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the Spark context, then the JVM it runs in, and wait for it."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def first_setup(args, data: str, span=None):
    """Generate the inputs in a child process while the JVM launches, then
    load them: (session, workload, generation s, get_spark s)."""
    from workloads import Workload

    proc = subprocess.Popen([sys.executable, os.path.join(HERE, "gen.py"),
                             "--workload", args.workload, "--seed", str(args.seed),
                             "--out", data], stdout=subprocess.PIPE, text=True)
    try:
        t = time.perf_counter()
        spark = start_session()
        get_spark_s = time.perf_counter() - t
        out, _ = proc.communicate()
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if proc.returncode != 0:
        raise RuntimeError(f"input generation failed with exit code {proc.returncode}")
    gen_s = float(out.split()[-1])
    wl = Workload(args.workload, data, span=span)
    wl.load(spark)
    return spark, wl, gen_s, get_spark_s


class Runner:
    def __init__(self, wl, t0: float) -> None:
        self.wl, self.t0 = wl, t0
        self.attempted = self.failed = 0
        self.check_s = 0.0
        self.errors: list[str] = []
        self.op_times: dict[str, list[float]] = {op: [] for op in wl.OPS}

    def elapsed(self) -> float:
        return time.time() - self.t0

    def run_op(self, op: str, before=None, after=None) -> float:
        """One operation, timed, then checked outside the timed region."""
        self.attempted += 1
        if before:
            before(op)
        t = time.perf_counter()
        try:
            out = self.wl.run_op(op)
            ok = True
        except Exception:
            ok = False
            self.errors.append(f"{op}: {traceback.format_exc(limit=3)}")
        dt = time.perf_counter() - t
        if after:
            after(op)
        if ok:
            t = time.perf_counter()
            try:
                self.wl.check(op, out)
            except Exception as exc:
                ok = False
                self.errors.append(f"{op}: {exc!r}")
            self.check_s += time.perf_counter() - t
        self.failed += not ok
        self.op_times[op].append(dt)
        return dt

    def run_pass(self, before=None, after=None) -> float:
        return sum(self.run_op(op, before, after) for op in self.wl.OPS)


def host_probe_ms() -> float:
    """Median time of a fixed single-core loop.  The CPU speed of a shared
    virtual machine can drift by a third from minute to minute; this tells a
    slow run on a slow host from a slow run of slow code."""
    times = []
    for _ in range(5):
        t = time.perf_counter()
        sum(range(1_000_000))
        times.append(time.perf_counter() - t)
    return 1e3 * statistics.median(times)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(args, data: str, t0: float):
    from tracing import vm_hwm_mb

    spark, wl, gen_s, _ = first_setup(args, data)
    runner = Runner(wl, t0)
    # the first set-up runs from process start (JVM launch and, beside it,
    # input generation); the others restart the session in the same JVM
    setups = [time.time() - t0]
    for _ in range(SETUPS - 1):
        spark.stop()
        t = time.perf_counter()
        spark = start_session()
        wl.load(spark)
        setups.append(time.perf_counter() - t)
    first_pass = runner.run_pass()  # fresh session: new Python workers, cold caches
    passes = []
    t_meas = time.time()
    # past the wall budget, stop as soon as one pass beyond tier-up is timed
    while len(passes) <= TIER_UP_PASSES or (
            (len(passes) < MIN_PASSES or time.time() - t_meas < args.seconds)
            and runner.elapsed() < WALL_BUDGET_S):
        passes.append(runner.run_pass())
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    pass_s = median(passes[TIER_UP_PASSES:])
    values = {
        "setup_s": median(setups),
        "pass_s": pass_s,
        "rows_per_s": wl.rows / pass_s,
        "driver_peak_rss_mb": vm_hwm_mb(),
    }
    metrics = {k: (values[k], u) for k, u in END_TO_END.items()}
    # not gated: the cold pass does not repeat within a tenth from run to
    # run, and the JVM's peak RSS follows its GC's heap sizing
    info = {"first_pass_s": first_pass, "jvm_peak_rss_mb": vm_hwm_mb(jvm_pid),
            "host_probe_ms": host_probe_ms(),
            "gen_s": gen_s, "setups_s": setups, "passes_s": passes,
            "check_s": runner.check_s, "run_wall_s": runner.elapsed(),
            "op_times_s": runner.op_times,
            "op_median_s": {op: median(v[1 + TIER_UP_PASSES:])
                            for op, v in runner.op_times.items()}}
    return metrics, info, runner


def per_layer(args, data: str, t0: float):
    import tracing as tr

    tracer = tr.Tracer()
    spark, wl, gen_s, get_spark_s = first_setup(args, data, span=tracer.span)
    runner = Runner(wl, t0)
    sc = spark.sparkContext
    for _ in range(1 + TIER_UP_PASSES):  # the cold pass, then tier-up
        runner.run_pass()
    untraced, traced = [], []
    op_records: list[dict] = []
    groups = {op: f"bench:{wl.name}:{op}" for op in wl.OPS}
    t_meas = time.time()
    k = 0
    # traced and untraced passes alternate, traced first: T U T U ...
    while (not traced or not untraced
           or time.time() - t_meas < args.seconds) and runner.elapsed() < WALL_BUDGET_S:
        k += 1
        if k % 2 == 0:
            untraced.append({"pass_s": runner.run_pass()})
            continue
        tracer.pass_id = k
        before_ids = {op: tr.group_job_ids(sc, g) for op, g in groups.items()}
        spans = {}

        def tag(op):
            tracer.op = op
            sc.setJobGroup(groups[op], op)
            spans[op] = [time.time()]

        def untag(op):
            spans[op].append(time.time())
            sc._jsc.clearJobGroup()
            tracer.op = None

        rec = {}
        with tr.host_health(rec):
            rec["pass_s"] = runner.run_pass(tag, untag)
        t = time.perf_counter()
        job_ids = {op: tr.group_job_ids(sc, g) - before_ids[op]
                   for op, g in groups.items()}
        tr.wait_for_jobs(sc, [j for ids in job_ids.values() for j in ids])
        for op in wl.OPS:
            m = tr.job_metrics(spark, job_ids[op], *spans[op])
            op_records.append({"pass": k, "op": op, "wall_s": spans[op][1] - spans[op][0],
                               "jobs": sorted(job_ids[op]), **m})
            for key, v in m.items():
                rec[key] = rec.get(key, 0.0) + v
        rec["bench.trace_collect_s"] = time.perf_counter() - t
        rec.update(layer_values(wl, tracer, k, op_records))
        traced.append(rec)
    layer = {name: median([r.get(name, 0.0) for r in traced]) for name in PER_LAYER}
    t_pass = median([r["pass_s"] for r in traced])
    u_pass = median([r["pass_s"] for r in untraced])
    layer.update({
        "session.get_spark_s": get_spark_s,
        "jvm.peak_rss_mb": tr.vm_hwm_mb(sc._jvm.java.lang.ProcessHandle.current().pid()),
        "host.probe_ms": host_probe_ms(),
        "bench.traced_pass_s": t_pass,
        "bench.untraced_pass_s": u_pass,
        "bench.tracing_overhead_s": t_pass - u_pass,
    })
    path = os.path.join(ROOT, ".perfbench", f"trace-{wl.name}-seed{args.seed}.json")
    with open(path, "w") as fh:
        json.dump({"workload": wl.name, "seed": args.seed, "gen_s": gen_s,
                   "per_layer": layer, "passes": traced, "untraced": untraced,
                   "ops": op_records, "spans": tracer.spans}, fh, indent=1,
                  default=str)
    metrics = {k: (layer[k], u) for k, u in PER_LAYER.items()}
    return metrics, {"trace_file": os.path.relpath(path, ROOT)}, runner


def layer_values(wl, tracer, k: int, op_records: list[dict]) -> dict:
    """Per-layer values of traced pass ``k`` from its spans."""
    out = {}
    for name in ("binning.bin_dataframe", "binning.normalization_histogram",
                 "calibration.chain_build", "calibration.generate_inverse_dfield",
                 "loaders.read_dataframe", "io.to_h5", "io.to_tiff", "io.to_nexus",
                 "pipeline.exact_dedup"):
        out[f"{name}_s"] = tracer.total(name, k)
    phases = {"route_s": "binning.route_s", "spill_write_s": "binning.spill_write_s",
              "spill_collect_s": "binning.spill_collect_s",
              "agg_collect_s": "binning.agg_collect_s",
              "bincount_s": "binning.combine_s"}
    for key in set(phases.values()) | {"binning.route_driver", "binning.route_shuffle"}:
        out[key] = 0.0
    for s in tracer.spans:
        if s["pass"] != k or s["name"] != "binning.bin_dataframe":
            continue
        info = s.get("run_info", {})
        for key, name in phases.items():
            out[name] += float(info.get(key, 0.0))
        route = info.get("strategy")
        if route in ("driver", "shuffle"):
            out[f"binning.route_{route}"] += 1
    mpes = wl.part("mpes_ingest")
    if mpes is not None:
        # the extraction mapInPandas runs one task per file per decode
        tasks = sum(r["crossing.python_tasks"] for r in op_records
                    if r["pass"] == k and r["op"] in mpes.OPS)
        out["loaders.file_decodes_per_pass"] = tasks / len(mpes.paths)
        out["io.export_mb"] = mpes.export_bytes / 1e6
        out["io.hdf5_read.decode_mb_per_s"] = decode_rate(mpes.paths[0])
    return out


def decode_rate(path: str) -> float:
    """MB/s of ``H5File.read`` over one file's streams, on the driver."""
    from sed_binning_spark.io.hdf5_read import H5File

    t = time.perf_counter()
    f = H5File(path)
    nbytes = sum(f.read(p).nbytes for p in f.visit() if p.startswith("/Stream_"))
    return nbytes / 1e6 / (time.perf_counter() - t)


def main() -> int:
    ap = argparse.ArgumentParser(description="sed_binning_spark benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "sed_binning_spark")):
        print(f"no sed_binning_spark package under {ROOT}", file=sys.stderr)
        return 2
    from gen import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    def _abort(signum, frame):
        raise TimeoutError(f"run stopped by signal {signum} (limit {HARD_TIMEOUT_S} s)")

    signal.signal(signal.SIGALRM, _abort)
    signal.signal(signal.SIGTERM, _abort)
    signal.alarm(HARD_TIMEOUT_S)
    t0 = process_start()
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        configure_env(work)
        data = os.path.join(work, "data")
        measure = per_layer if args.trace else end_to_end
        metrics, info, runner = measure(args, data, t0)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        signal.alarm(0)
        try:
            stop_jvm()
        finally:
            shutil.rmtree(work, ignore_errors=True)

    for err in runner.errors:
        print(f"FAILED {err}", file=sys.stderr)
    failed_frac = runner.failed / max(1, runner.attempted)
    print(f"{args.workload} seed={args.seed} trace={args.trace} "
          f"ops={runner.attempted} failed={runner.failed} failed_frac={failed_frac:.4f}")
    for key, val in info.items():
        print(f"  {key} = {json.dumps(val, default=round4)}")
    for name, (val, unit) in metrics.items():
        print(f"  {name} = {val:.6g} {unit}")
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def round4(x):
    return round(float(x), 4)


if __name__ == "__main__":
    sys.exit(main())
