"""Benchmark entry point: one workload per process against local[4].

    python3 perfbench/run.py --workload broadcast_pip_tile --seed 1 \
        --seconds 3 --trace 0

Run from the root of a source checkout. Steps, in order:

  1. generate (or reuse) the seeded pages table       -> bench.inputs_s
  2. DuckDB expectations for the output checks        -> bench.checks_s
  3. set-up: JVM and session start, then the exact measured job run
     WARMUP_RUNS times (the first run spawns the Python workers and
     is 2-4x slower than the rest)                    -> setup_s
  4. measure: the job repeated for --seconds of job time; the median
     is taken over the last warm-up run and the measured runs, at
     least MIN_SAMPLES of them. Every run is checked against the
     expectations outside its timed section
  5. --trace 1 instead alternates the untraced job with a traced one
     and reports per-layer metrics (see README.md)

The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}. Lines above it name
every figure with its unit, including those that are not gated.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE_DIR = os.path.join(HERE, "_cache")
WORK_DIR = os.path.join(HERE, "_work")
OUT_DIR = os.path.join(HERE, "_out")

CPUS = 4
DRIVER_MEM = "4g"

#: input sizes, fixed per workload so every seed costs the same
WORKLOADS = {
    "broadcast_pip_tile": {"pages": 2_000_000},
    "shuffle_pip_knn": {"pages": 250_000, "queries": 10},
    "tile_pyramid_checkpoint": {"pages": 100_000, "tile": 32, "min_zoom": 4,
                                "buckets": 2},
}

#: set-up runs the exact measured job this many times: the first (cold)
#: run spawns the Python workers and is 2-4x slower than later runs
WARMUP_RUNS = 2
#: the median is taken over at least this many runs: the last warm-up
#: run plus the measured runs
MIN_SAMPLES = 2
#: stop measuring after this many failed operations
MAX_FAILED = 3

PER_LAYER = [
    "pages.scan_s", "pages.bytes_read",
    "pip_join.broadcast_s", "pip_join.python_s", "pip_join.python_boot_s",
    "pip_join.arrow_bytes_sent", "pip_join.arrow_bytes_recv",
    "pip_join.candidate_ratio", "pip_join.hit_ratio",
    "tile_rollup_s", "tile_rollup.shuffle_bytes",
    "pip_join.hot_cells_s", "pip_join.shuffle_s",
    "pip_join.shuffle_bytes_written", "pip_join.shuffle_write_s",
    "pip_join.salted_cells", "pip_join.exact_keep_ratio",
    "knn.join_s", "knn.spark_jobs", "knn.shuffle_bytes",
    "density.tiles_s", "pyramid.levels_s", "pyramid.python_s",
    "checkpoint.write_s", "checkpoint.bytes_written", "checkpoint.write_amp",
    "checkpoint.resume_s", "checkpoint.verify_s",
    "checkpoint.buckets_written", "checkpoint.buckets_skipped",
    "jvm.gc_s", "jvm.rss_peak_mb", "python.rss_peak_mb", "spark.tasks",
    "trace.job_s", "trace.untraced_job_s", "trace.overhead_s",
    "bench.inputs_s", "bench.checks_s", "host.steal_s", "host.other_cpu_s",
]


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_ratio") or name.endswith("_amp"):
        return "ratio"
    if "bytes" in name:
        return "bytes"
    return "count"


# ------------------------------------------------------------ host counters

def _descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, stack = [], [pid]
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(kids.get(p, []))
    return out


def _tree_cpu_s() -> float:
    """CPU seconds used by this process and everything it started."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for p in _descendants(os.getpid()):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / tick


def _host_cpu() -> tuple[float, float]:
    """(busy seconds, steal seconds) summed over all CPUs of the host."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    tick = os.sysconf("SC_CLK_TCK")
    user, nice, system, idle, iowait, irq, softirq, steal = v[:8]
    return (user + nice + system + irq + softirq) / tick, steal / tick


class HostWindow:
    """CPU used outside the benchmark's process tree, and steal, over a
    section: lets a contended run be explained instead of guessed."""

    def __init__(self):
        self.busy0, self.steal0 = _host_cpu()
        self.tree0 = _tree_cpu_s()

    def close(self) -> dict:
        busy, steal = _host_cpu()
        tree = _tree_cpu_s()
        return {"host.other_cpu_s": max(0.0, (busy - self.busy0) - (tree - self.tree0)),
                "host.steal_s": steal - self.steal0}


def _vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def rss_peaks() -> dict:
    """Peak resident set (VmHWM) of the JVM and of the largest Python
    worker, both descendants of this process."""
    me = os.getpid()
    jvm = py = 0.0
    for p in _descendants(me):
        comm = _comm(p)
        if comm == "java":
            jvm = max(jvm, _vm_hwm_mb(p))
        elif p != me and comm.startswith("python"):
            py = max(py, _vm_hwm_mb(p))
    return {"jvm.rss_peak_mb": jvm, "python.rss_peak_mb": py}


def gc_seconds(spark) -> float:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


# ------------------------------------------------------------------ session

def start_session():
    from gdal_spark.session import get_spark

    local = os.path.join(WORK_DIR, f"spark-{os.getpid()}")
    tmp = os.path.join(local, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep the temp files of Python, the launcher JVM, the Spark JVM and
    # the workers inside the checkout
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    spark = get_spark("perfbench", master=f"local[{CPUS}]",
                      shuffle_partitions=2 * CPUS, extra_conf={
                          "spark.ui.showConsoleProgress": "false",
                          "spark.local.dir": local,
                          "spark.sql.warehouse.dir": os.path.join(local, "warehouse"),
                      })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for it to exit.
    (The py4j callback server of a traced run runs on daemon threads;
    shutting it down explicitly can block, so it ends with the process.)"""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ------------------------------------------------------------------- jobs

def make_job(name: str, spark, seed: int, pages_dir: str, work: str):
    import jobs
    from inputs import query_sample

    cfg = WORKLOADS[name]
    if name == "broadcast_pip_tile":
        return jobs.BroadcastPipTile(spark, pages_dir, cfg["pages"])
    if name == "shuffle_pip_knn":
        return jobs.ShufflePipKnn(spark, pages_dir, cfg["pages"],
                                  query_sample(pages_dir, seed, cfg["queries"]))
    return jobs.TilePyramidCheckpoint(spark, pages_dir, cfg["pages"], work,
                                      cfg["tile"], cfg["min_zoom"], cfg["buckets"])


class Ops:
    """Counts operations and failures; every job run is one operation."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.check_s = 0.0

    def run(self, fn, check, reset=None):
        """-> seconds taken by fn(), or None when it raised or its
        output failed `check` (run after the clock stopped). `reset`
        runs before the clock starts."""
        self.attempted += 1
        if reset is not None:
            reset()
        t0 = time.perf_counter()
        try:
            res = fn()
        except Exception:
            self._fail(traceback.format_exc(limit=3))
            return None
        dt = time.perf_counter() - t0
        try:
            bad = check(res)
        except Exception:
            bad = [traceback.format_exc(limit=3)]
        self.check_s += time.perf_counter() - t0 - dt
        if bad:
            self._fail("; ".join(bad))
            return None
        return dt

    def _fail(self, why: str) -> None:
        self.failed += 1
        print(f"FAILED operation: {why}", file=sys.stderr)


def warm_up(job, ops: Ops) -> list[float]:
    """Run the job WARMUP_RUNS times; -> the times of the good runs.
    A fixed count keeps set-up time from varying by whole job runs."""
    times: list[float] = []
    for _ in range(WARMUP_RUNS):
        dt = ops.run(job.run, job.check, getattr(job, "reset", None))
        if dt is not None:
            times.append(dt)
    return times


# -------------------------------------------------------------------- main

def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse(argv)
    sys.path.insert(0, ROOT)
    try:
        import gdal_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    from inputs import pages_table

    cfg = WORKLOADS[args.workload]
    seed = args.seed % (1 << 30)
    work = os.path.join(WORK_DIR, f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    info: dict[str, float] = {}
    spark = None
    try:
        t0 = time.perf_counter()
        pages_dir = pages_table(CACHE_DIR, args.workload, seed, cfg["pages"])
        info["bench.inputs_s"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        spark = start_session()
        info["setup.session_s"] = time.perf_counter() - t0
        job = make_job(args.workload, spark, seed, pages_dir, work)
        t1 = time.perf_counter()
        job.prepare()
        info["bench.checks_s"] = time.perf_counter() - t1

        ops = Ops()
        t1 = time.perf_counter()
        warm = warm_up(job, ops)
        info["setup.warmup_s"] = time.perf_counter() - t1
        info["setup.warmup_runs"] = len(warm)
        print("warm-up job times: " + " ".join(f"{t:.3f}" for t in warm))
        setup_s = info["setup.session_s"] + info["setup.warmup_s"]
        # the last warm-up run, when it succeeded, is the first sample
        carry = warm[-1:] if len(warm) == WARMUP_RUNS else []

        if args.trace:
            metrics = measure_traced(spark, job, ops, args, info)
        else:
            metrics = measure(job, ops, args, info, cfg["pages"], setup_s, carry)
        info["bench.checks_s"] += ops.check_s
        if args.trace:
            metrics["bench.checks_s"]["value"] = info["bench.checks_s"]
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(os.path.join(WORK_DIR, f"spark-{os.getpid()}"),
                      ignore_errors=True)

    for k, v in sorted(info.items()):
        print(f"info {k} = {v:.4f} {unit_of(k)}")
    for k, v in metrics.items():
        print(f"metric {k} = {v['value']:.6g} {v['unit']}")
    correct = ops.failed == 0 and ops.attempted > 0
    print(json.dumps({"correct": correct, "attempted": ops.attempted,
                      "failed": ops.failed, "metrics": metrics}))
    return 0


def measure(job, ops: Ops, args, info: dict, n_pages: int,
            setup_s: float, carry: list[float]) -> dict:
    """Run the job for --seconds of job time and at least MIN_SAMPLES
    samples (counting the carried warm-up run); -> the median."""
    times = list(carry)
    window = HostWindow()
    busy = 0.0
    while busy < args.seconds or len(times) < MIN_SAMPLES:
        dt = ops.run(job.run, job.check, getattr(job, "reset", None))
        if dt is None:
            if ops.failed >= MAX_FAILED:
                break
            continue
        times.append(dt)
        busy += dt
    info.update(window.close())
    info["measure.runs"] = len(times) - len(carry)
    if not times:
        raise RuntimeError("no job run succeeded")
    job_s = statistics.median(times)
    print("sample job times: " + " ".join(f"{t:.3f}" for t in times))
    info["measure.job_median_s"] = job_s
    info["measure.job_min_s"] = min(times)
    info["measure.job_max_s"] = max(times)
    steps = getattr(job, "step_s", [])[-len(times):]
    for i, name in enumerate(getattr(job, "step_names", ()) if steps else ()):
        info[f"measure.{name}_median_s"] = statistics.median(s[i] for s in steps)
    return {"pages_per_s": {"value": n_pages / job_s, "unit": "1/s"},
            "setup_s": {"value": setup_s, "unit": "s"}}


def measure_traced(spark, job, ops: Ops, args, info: dict) -> dict:
    """Alternate the untraced job with the traced one for --seconds,
    with at least one pair; -> per-layer medians. The untraced runs
    are measured here, not carried over from the warm-up, so that the
    tracing overhead compares runs equally far past the cold run."""
    import tracing

    tracer = tracing.Tracer(spark)
    samples: list[dict] = []
    untraced: list[float] = []
    bases: dict[str, str] = {}
    window = HostWindow()
    busy = 0.0
    try:
        while busy < args.seconds or not samples:
            dt = ops.run(job.run, job.check, getattr(job, "reset", None))
            if dt is not None:
                untraced.append(dt)
                busy += dt
            gc0 = gc_seconds(spark)
            first_span = len(tracer.spans)
            t0 = time.perf_counter()
            traced: list[dict] = []
            dt = ops.run(lambda: traced.append(job.traced(tracer)), lambda res: [])
            if dt is None:
                if ops.failed >= MAX_FAILED:
                    break
                continue
            busy += time.perf_counter() - t0
            layer = traced[0]
            bases.update(layer.pop("_bases", {}))
            layer["jvm.gc_s"] = gc_seconds(spark) - gc0
            # job groups are per span, so no task is counted twice
            layer["spark.tasks"] = sum(s["stages"].get("tasks", 0)
                                       for s in tracer.spans[first_span:])
            samples.append(layer)
    finally:
        tracer.close()
        tracer.write(os.path.join(
            OUT_DIR, f"trace-{args.workload}-s{args.seed}.json"))
    info.update(window.close())
    if not samples or not untraced:
        raise RuntimeError("no traced run succeeded")
    out = {name: statistics.median(s.get(name, 0.0) for s in samples)
           for name in PER_LAYER}
    out.update(rss_peaks())
    out["trace.untraced_job_s"] = statistics.median(untraced)
    out["trace.overhead_s"] = out["trace.job_s"] - out["trace.untraced_job_s"]
    for k in ("bench.inputs_s", "bench.checks_s", "host.steal_s", "host.other_cpu_s"):
        out[k] = info.get(k, 0.0)
    for k, base in sorted(bases.items()):
        print(f"base {k}: {base}")
    return {k: {"value": float(out[k]), "unit": unit_of(k)} for k in PER_LAYER}


if __name__ == "__main__":
    sys.exit(main())
